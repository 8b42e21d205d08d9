"""Seeded input generators for the benchmark.

Two families, both deterministic in their seed:

* ``star``: the TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings`` that ``SparkEntry.queries`` read, one parquet file per table
  (``<dir>/<table>.parquet``), with the column names, types and value shapes
  the queries and their DuckDB oracles expect.
* ``crm``: the six dirty CRM/ERP CSVs that ``SetupOrchestrator.runBronze``
  loads, with every quirk class of the reference datasets planted at known
  counts. ``gen_crm`` returns those counts so a run can assert them after the
  silver build.
"""
import csv
import datetime as dt
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
P_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en"] * 44 + ["fr"] * 13 + ["zh"] * 15 + ["de"] * 14 + ["es"] * 14


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def gen_star(out_dir, sf, seed):
    """Write the ten parquet tables at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    r = random.Random(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_evt = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(150, int(15_000 * sf))
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n_cust)], i32),
        "c_acctbal": pa.array([round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)], f64),
        "c_mktsegment": pa.array([r.choice(SEGMENTS) for _ in range(n_cust)], s)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n_supp)], i32),
        "s_acctbal": pa.array([round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)], f64)})
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": pa.array([f"{r.choice(P_ADJ)} {r.choice(P_NOUN)}" for _ in range(n_part)], s),
        "p_brand": pa.array([f"Brand#{r.randint(1, 25)}" for _ in range(n_part)], s),
        "p_type": pa.array([r.choice(P_TYPES) for _ in range(n_part)], s),
        "p_size": pa.array([r.randint(1, 50) for _ in range(n_part)], i32),
        "p_retailprice": pa.array([round(900 + (i % 1000) / 10, 1) for i in range(n_part)], f64)})

    epoch = dt.datetime(1995, 1, 1)
    odates = [epoch + dt.timedelta(days=r.randrange(2405)) for _ in range(n_ord)]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array([r.randrange(n_cust) for _ in range(n_ord)], i64),
        "o_orderstatus": pa.array([r.choice("FOP") for _ in range(n_ord)], s),
        "o_totalprice": pa.array([round(r.uniform(1000, 500_000), 2) for _ in range(n_ord)], f64),
        "o_orderdate": pa.array(odates, ts),
        "o_orderpriority": pa.array([r.choice(PRIORITIES) for _ in range(n_ord)], s)})

    li = {k: [] for k in ("ok", "pk", "sk", "ln", "q", "ep", "d", "t", "rf", "ls", "sd")}
    for o in range(n_ord):
        for _ in range(r.randint(1, 7)):
            li["ok"].append(o)
            li["pk"].append(r.randrange(n_part))
            li["sk"].append(r.randrange(n_supp))
            li["ln"].append(r.randint(1, 7))
            li["q"].append(float(r.randint(1, 50)))
            li["ep"].append(round(r.uniform(900, 100_000), 2))
            li["d"].append(r.randint(0, 10) / 100)
            li["t"].append(r.randint(0, 8) / 100)
            li["rf"].append(r.choice("ANR"))
            li["ls"].append(r.choice("FO"))
            li["sd"].append(odates[o] + dt.timedelta(days=r.randint(1, 121)))
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(li["ok"], i64), "l_partkey": pa.array(li["pk"], i64),
        "l_suppkey": pa.array(li["sk"], i64), "l_linenumber": pa.array(li["ln"], i32),
        "l_quantity": pa.array(li["q"], f64), "l_extendedprice": pa.array(li["ep"], f64),
        "l_discount": pa.array(li["d"], f64), "l_tax": pa.array(li["t"], f64),
        "l_returnflag": pa.array(li["rf"], s), "l_linestatus": pa.array(li["ls"], s),
        "l_shipdate": pa.array(li["sd"], ts)})

    month_us = 30 * 86_400 * 1_000_000
    offs = sorted(r.randrange(month_us) for _ in range(n_evt))
    t0 = dt.datetime(2024, 1, 1)
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_evt), i64),
        "ts": pa.array([t0 + dt.timedelta(microseconds=o) for o in offs], ts),
        "user_id": pa.array([r.randrange(n_users) for _ in range(n_evt)], i64),
        "event_type": pa.array([r.choice(EVENT_TYPES) for _ in range(n_evt)], s),
        "value": pa.array([round(r.expovariate(1 / 25) + 0.01, 2) for _ in range(n_evt)], f64),
        "props": pa.array([json.dumps({"k": r.randrange(100)}) for _ in range(n_evt)], s)})

    # ~5% of documents are near-duplicates: an earlier document's text with a
    # marker token appended, which the dedup and decontamination queries find.
    texts = []
    for i in range(n_doc):
        if i > 20 and r.random() < 0.05:
            texts.append(texts[r.randrange(i)] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS) for _ in range(r.randint(10, 100))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array([r.choice(LANGS) for _ in range(n_doc)], s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    vecs = []
    for _ in range(n_emb):
        v = [r.gauss(0, 1) for _ in range(64)]
        n = math.sqrt(sum(x * x for x in v))
        vecs.append([x / n for x in v])
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([r.randrange(10) for _ in range(n_emb)], i32)})


COUNTRIES = ["Australia", "Canada", "France", "United Kingdom"]
COUNTRY_VARIANTS = {"Germany": ["DE", "Germany"], "United States": ["US", "USA", "United States"]}
GENDER_VARIANTS = ["Male", "Female", "M", "F", "", " "]
CATEGORIES = [("AC", "Accessories"), ("BI", "Bikes"), ("CL", "Clothing"), ("CO", "Components")]


def _yyyymmdd(d):
    return d.year * 10000 + d.month * 100 + d.day


def gen_crm(out_dir, seed, n_customers):
    """Write the six CRM/ERP CSVs; return the planted quirk counts."""
    r = random.Random(seed)
    crm, erp = os.path.join(out_dir, "source_crm"), os.path.join(out_dir, "source_erp")
    os.makedirs(crm, exist_ok=True)
    os.makedirs(erp, exist_ok=True)
    planted = {}

    def write(path, header, rows):
        with open(path, "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            w.writerows(rows)

    # cust_info: untrimmed names, duplicate ids (the later create date wins in
    # silver), blank-id rows, blank marital status and gender.
    ids = [11000 + i for i in range(n_customers)]
    base = dt.date(2025, 1, 1)
    cust = []
    for cid in ids:
        first = r.choice(["Jon", "Eugene", "Ruben", "Christy", "Elizabeth", "Julio"])
        last = r.choice(["Yang", "Huang", "Torres", "Zhu", "Johnson", "Ruiz"])
        cust.append([cid, f"AW{cid:08d}", r.choice([first, f" {first}", f"{first} "]),
                     r.choice([last, f"{last} ", f"  {last}"]),
                     r.choice(["M", "S", "M", "S", ""]), r.choice(["M", "F", ""]),
                     (base + dt.timedelta(days=r.randrange(300))).isoformat()])
    dup_ids = r.sample(ids, 6)
    for cid in dup_ids:
        orig = next(c for c in cust if c[0] == cid)
        later = list(orig)
        later[6] = (dt.date.fromisoformat(orig[6]) + dt.timedelta(days=30)).isoformat()
        cust.append(later)
    n_null_id = 7
    for k in range(n_null_id):
        cust.append(["", f"SF{r.randrange(1000, 9999)}", "", "", "", "", ""])
    r.shuffle(cust)
    write(os.path.join(crm, "cust_info.csv"),
          ["cst_id", "cst_key", "cst_firstname", "cst_lastname", "cst_marital_status",
           "cst_gndr", "cst_create_date"], cust)
    planted["cust_rows"] = len(cust)
    planted["cust_null_id"] = n_null_id
    planted["cust_dup_ids"] = len(dup_ids)
    planted["silver_customers"] = n_customers
    planted["untrimmed_first"] = sum(1 for c in cust if c[2] != c[2].strip())

    # PX_CAT_G1V2: the 36-row category dimension.
    cats = []
    for k in range(36):
        code, name = CATEGORIES[k % 4]
        cats.append([f"{code}_{chr(65 + k // 4)}{chr(65 + k % 4)}", name,
                     f"{name} Sub {k}", r.choice(["Yes", "No"])])
    write(os.path.join(erp, "PX_CAT_G1V2.csv"), ["ID", "CAT", "SUBCAT", "MAINTENANCE"], cats)
    planted["categories"] = len(cats)

    # prd_info: keys joinable to the categories and the sales fact, null
    # costs, blank and trailing-space product lines.
    n_prd = max(40, n_customers // 45)
    prds, prd_keys = [], []
    lines = ["R ", "M ", "S", "T", "", "M", "R"]
    for k in range(n_prd):
        cat = cats[k % 36][0].replace("_", "-")
        pkey = f"{chr(65 + k % 26)}{chr(65 + k // 26 % 26)}-R{k:03d}-{40 + k % 20}"
        prd_keys.append(pkey)
        prds.append([200 + k, f"{cat}-{pkey}", f"Product {k} - Black- {40 + k % 20}",
                     "" if k % 17 == 0 else r.randint(10, 2000), lines[k % len(lines)],
                     (dt.date(2003, 7, 1) + dt.timedelta(days=365 * (k % 8))).isoformat(),
                     "" if k % 3 else (dt.date(2012, 1, 1) + dt.timedelta(days=k)).isoformat()])
    write(os.path.join(crm, "prd_info.csv"),
          ["prd_id", "prd_key", "prd_nm", "prd_cost", "prd_line", "prd_start_dt", "prd_end_dt"], prds)
    planted["products"] = n_prd
    planted["prd_line_na"] = sum(1 for p in prds if p[4].strip() == "")
    planted["prd_line_trailing"] = sum(1 for p in prds if p[4] != p[4].strip())

    # sales_details: integer yyyymmdd dates with 0 and garbage sentinels,
    # sls_sales != qty * price, null sales and null prices.
    n_sales = n_customers * 3
    sales = []
    for k in range(n_sales):
        od = dt.date(2010, 12, 29) + dt.timedelta(days=r.randrange(1460))
        qty, price = r.randint(1, 3), r.randint(2, 3578)
        sales.append([f"SO{43697 + k // 3}", r.choice(prd_keys), r.choice(ids),
                      _yyyymmdd(od), _yyyymmdd(od + dt.timedelta(days=7)),
                      _yyyymmdd(od + dt.timedelta(days=12)), qty * price, qty, price])
    picks = r.sample(range(n_sales), 17 + 5 + 20 + 8 + 7)
    zero, garbage = picks[:17], picks[17:22]
    mismatch, null_sales, null_price = picks[22:42], picks[42:50], picks[50:57]
    for k in zero:
        sales[k][3] = 0
    for k in garbage:
        sales[k][3] = r.choice([32154, 5489, 2010101])
    for k in mismatch:
        sales[k][6] = sales[k][7] * sales[k][8] + r.randint(1, 50)
    for k in null_sales:
        sales[k][6] = ""
    for k in null_price:
        sales[k][8] = ""
    write(os.path.join(crm, "sales_details.csv"),
          ["sls_ord_num", "sls_prd_key", "sls_cust_id", "sls_order_dt", "sls_ship_dt",
           "sls_due_dt", "sls_sales", "sls_quantity", "sls_price"], sales)
    planted["sales_rows"] = n_sales
    planted["sales_bad_order_dt"] = len(zero) + len(garbage)
    planted["sales_repaired"] = len(mismatch) + len(null_sales)
    planted["sales_null_price"] = len(null_price)

    # CUST_AZ12: NAS-prefixed ids, future birthdates, gender variants.
    erp_c, future = [], 0
    for cid in ids:
        key = f"AW{cid:08d}"
        bd = dt.date(1940, 1, 1) + dt.timedelta(days=r.randrange(22000))
        if r.random() < 0.01:
            bd = dt.date(2050, 7, 6) + dt.timedelta(days=r.randrange(3000))
            future += 1
        erp_c.append([f"NAS{key}" if r.random() < 0.6 else key, bd.isoformat(),
                      r.choice(GENDER_VARIANTS)])
    write(os.path.join(erp, "CUST_AZ12.csv"), ["CID", "BDATE", "GEN"], erp_c)
    planted["erp_customers"] = len(erp_c)
    planted["erp_nas"] = sum(1 for c in erp_c if c[0].startswith("NAS"))
    planted["erp_future_bdate"] = future

    # LOC_A101: dash-styled ids, country variants and blanks.
    locs = []
    for cid in ids:
        pick = r.random()
        if pick < 0.15:
            cntry = r.choice(COUNTRY_VARIANTS["Germany"])
        elif pick < 0.45:
            cntry = r.choice(COUNTRY_VARIANTS["United States"])
        elif pick < 0.47:
            cntry = r.choice(["", " ", "  "])
        else:
            cntry = r.choice(COUNTRIES)
        locs.append([f"AW-{cid:08d}", cntry])
    write(os.path.join(erp, "LOC_A101.csv"), ["CID", "CNTRY"], locs)
    planted["locations"] = len(locs)
    planted["loc_germany"] = sum(1 for l in locs if l[1] in COUNTRY_VARIANTS["Germany"])
    planted["loc_us"] = sum(1 for l in locs if l[1] in COUNTRY_VARIANTS["United States"])
    planted["loc_blank"] = sum(1 for l in locs if l[1].strip() == "")

    planted["csv_rows"] = len(cust) + n_prd + n_sales + len(erp_c) + len(locs) + len(cats)
    return planted
