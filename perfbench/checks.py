"""Output checks of a run, made after the engine's process has exited.

* Query ops: the result the verify pass wrote must equal the op's
  ``SparkEntry.oracleSql`` result in DuckDB: same sorted column names, and the
  same order-insensitive digest over typed rows (floats, decimals and dates
  keep their type, so 5.0 never equals Decimal('5.00')). DECIMAL outputs fail
  outright, as in the repository's oracle gate.
* ``medallion_etl``: row counts and the planted quirk counts in the verify
  pass's bronze and silver tables, and a digest of ``gold.customer_analytics``
  equal to the same table computed by DuckDB straight from the CSVs.
"""
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _digest(cur):
    """(sorted column names, row count, sha256 over sorted typed rows)."""
    cols = [d[0] for d in cur.description]
    if any("DECIMAL" in str(d[1]).upper() for d in cur.description):
        raise ValueError(f"DECIMAL output columns in {cols}")
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple((type(_canon(r[i])).__name__, repr(_canon(r[i]))) for i in order)
                  for r in cur.fetchall())
    h = hashlib.sha256(repr(rows).encode()).hexdigest()
    return sorted(cols), len(rows), h


def _oracle_digest(con, sql, cache_dir, data_tag):
    key = hashlib.sha256((data_tag + "\0" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            c = json.load(f)
        return c["cols"], c["rows"], c["digest"]
    cols, n, h = _digest(con.execute(sql))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump({"cols": cols, "rows": n, "digest": h}, f)
    os.replace(path + ".tmp", path)
    return cols, n, h


def check_queries(oracles, verify_dir, data_dir, cache_dir, data_tag):
    """Return {op name: reason} for every query op whose output is wrong."""
    wrong = {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    for name, sql in sorted(oracles.items()):
        out = os.path.join(verify_dir, name)
        if not os.path.isdir(out):
            wrong[name] = "no verify output"
            continue
        try:
            with duckdb.connect() as scon:
                got = _digest(scon.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')"))
            want = _oracle_digest(con, sql, cache_dir, data_tag)
        except Exception as e:  # a broken output or oracle is a wrong answer
            wrong[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        if got != tuple(want):
            wrong[name] = f"spark cols={got[0]} rows={got[1]} vs oracle cols={want[0]} rows={want[1]}"
    return wrong


# gold.customer_analytics from the raw CSVs, following the silver cleaning
# rules and the gold aggregate of graft.medallion.{Silver,Gold}.
GOLD_SQL = """
WITH cust AS (
  SELECT cst_id, trim(cst_firstname) AS fn, trim(cst_lastname) AS ln,
    CASE WHEN upper(trim(cst_gndr)) IN ('M','MALE') THEN 'Male'
         WHEN upper(trim(cst_gndr)) IN ('F','FEMALE') THEN 'Female' ELSE 'n/a' END AS gndr,
    row_number() OVER (PARTITION BY cst_id ORDER BY CAST(cst_create_date AS DATE) DESC) AS rn
  FROM read_csv('{crm}/cust_info.csv', header=true, all_varchar=true)
  WHERE cst_id IS NOT NULL),
sales AS (
  SELECT trim(sls_ord_num) AS ord, CAST(sls_cust_id AS BIGINT) AS cust,
    CASE WHEN sls_order_dt IS NULL OR CAST(sls_order_dt AS BIGINT) <= 0
              OR length(sls_order_dt) <> 8 THEN NULL
         ELSE try_strptime(sls_order_dt, '%Y%m%d')::DATE END AS odt,
    CAST(sls_quantity AS BIGINT) AS q, CAST(sls_sales AS BIGINT) AS s,
    CAST(sls_price AS BIGINT) AS p
  FROM read_csv('{crm}/sales_details.csv', header=true, all_varchar=true)),
fixed AS (
  SELECT ord, cust, odt,
    CASE WHEN s IS NULL OR s <= 0 OR s <> q * abs(p) THEN q * abs(p) ELSE s END AS sales
  FROM sales),
per AS (
  SELECT cust, sum(sales) AS ltv, count(DISTINCT ord) AS n, max(odt) AS last_dt
  FROM fixed WHERE odt IS NOT NULL GROUP BY cust)
SELECT CAST(c.cst_id AS BIGINT) AS customer_key,
  concat_ws(' ', c.fn, c.ln) AS customer_name, c.gndr AS gender,
  CAST(coalesce(p.ltv, 0) AS BIGINT) AS lifetime_value,
  CAST(coalesce(p.n, 0) AS BIGINT) AS total_orders,
  coalesce(CAST(p.ltv AS DOUBLE) / CAST(p.n AS DOUBLE), 0.0) AS avg_order_value,
  p.last_dt AS last_order_date,
  CASE WHEN coalesce(p.ltv, 0) >= 10000 THEN 'VIP'
       WHEN coalesce(p.ltv, 0) >= 1000 THEN 'Regular'
       WHEN coalesce(p.ltv, 0) > 0 THEN 'Occasional' ELSE 'Prospect' END AS customer_segment
FROM cust c LEFT JOIN per p ON CAST(c.cst_id AS BIGINT) = p.cust
WHERE c.rn = 1
"""


def check_medallion(wh, csv_dir, planted):
    """Return {op name: reason} for wrong medallion outputs."""
    wrong = {}
    con = duckdb.connect()

    def one(sql):
        return con.execute(sql).fetchone()[0]

    def table(layer, name):
        return f"read_parquet('{wh}/{layer}/{name}/**/*.parquet', hive_partitioning=true)"

    def expect(op, what, got, want):
        if got != want:
            wrong.setdefault(op, f"{what}: got {got}, want {want}")

    try:
        bronze = sum(one(f"SELECT count(*) FROM {table('bronze', t)}") for t in [
            "crm_customers_raw", "crm_products_raw", "crm_sales_raw", "erp_customers_raw",
            "erp_locations_raw", "erp_product_categories_raw"])
        expect("app.bronze", "bronze rows", bronze, planted["csv_rows"])
        expect("app.bronze", "category rows",
               one(f"SELECT count(*) FROM {table('bronze', 'erp_product_categories_raw')}"),
               planted["categories"])
        cust = table("silver", "crm_customers")
        expect("app.silver", "silver customers", one(f"SELECT count(*) FROM {cust}"),
               planted["silver_customers"])
        expect("app.silver", "untrimmed names",
               one(f"SELECT count(*) FROM {cust} WHERE cst_firstname <> trim(cst_firstname)"), 0)
        sales = table("silver", "crm_sales")
        expect("app.silver", "silver sales", one(f"SELECT count(*) FROM {sales}"),
               planted["sales_rows"])
        expect("app.silver", "null order dates",
               one(f"SELECT count(*) FROM {sales} WHERE sls_order_dt IS NULL"),
               planted["sales_bad_order_dt"])
        expect("app.silver", "sales != qty * price",
               one(f"SELECT count(*) FROM {sales} WHERE sls_sales IS NULL OR sls_price IS NULL "
                   "OR sls_sales <> sls_quantity * sls_price"), 0)
        prd = table("silver", "crm_products")
        expect("app.silver", "products", one(f"SELECT count(*) FROM {prd}"), planted["products"])
        expect("app.silver", "blank product lines",
               one(f"SELECT count(*) FROM {prd} WHERE prd_line = 'n/a'"), planted["prd_line_na"])
        expect("app.silver", "unmapped product lines",
               one(f"SELECT count(*) FROM {prd} WHERE prd_line NOT IN "
                   "('Mountain', 'Road', 'Other Sales', 'Touring', 'n/a')"), 0)
        erp = table("silver", "erp_customers")
        expect("app.silver", "NAS ids", one(f"SELECT count(*) FROM {erp} WHERE cid LIKE 'NAS%'"), 0)
        expect("app.silver", "future birthdates",
               one(f"SELECT count(*) FROM {erp} WHERE bdate IS NULL"), planted["erp_future_bdate"])
        expect("app.silver", "gender variants",
               one(f"SELECT count(*) FROM {erp} WHERE gen NOT IN ('Male', 'Female', 'n/a')"), 0)
        loc = table("silver", "erp_locations")
        expect("app.silver", "dashed ids", one(f"SELECT count(*) FROM {loc} WHERE cid LIKE '%-%'"), 0)
        for country, key in [("Germany", "loc_germany"), ("United States", "loc_us"),
                             ("n/a", "loc_blank")]:
            expect("app.silver", f"country {country}",
                   one(f"SELECT count(*) FROM {loc} WHERE cntry = '{country}'"), planted[key])
        got = _digest(con.execute(f"SELECT * FROM {table('gold', 'customer_analytics')}"))
        want = _digest(con.execute(GOLD_SQL.format(crm=f"{csv_dir}/source_crm")))
        expect("app.gold", "gold digest", got, want)
        n_new = one(f"SELECT count(*) FROM {cust} WHERE cst_id % 100 = 0")
        for op, name in [("dml.merge", "crm_customers_merged"), ("dml.upsert", "crm_customers_upserted")]:
            expect(op, "rows", one(f"SELECT count(*) FROM {table('silver', name)}"),
                   planted["silver_customers"] + n_new)
        expect("dml.merge_delta", "sales rows after merge", one(f"SELECT count(*) FROM {sales}"),
               planted["sales_rows"])
    except Exception as e:  # a missing or unreadable table is a wrong answer
        wrong.setdefault("app.gold", f"{type(e).__name__}: {e}"[:300])
    return wrong
