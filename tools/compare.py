#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare.py <verify_out_dir> <sf_dir> [query ...]

Reads each <verify_out_dir>/<query> parquet (Spark result), runs the matching
oracle SQL from oracle_sql.json in DuckDB over the sf_dir parquet tables, and
compares STRICTLY (driver-faithful, round-2 hardening):

  - every query named in oracle_sql.json (filtered by the optional query
    list) is checked: one with no Spark output (it threw in Verify) fails;
  - column names (sorted) must match;
  - row counts must match;
  - values are compared via fetchall() tuples, preserving decimal.Decimal —
    NOT pandas float64 (the round-1 gate converted both sides to float64 and
    was blind to fixed-scale decimal rendering, which the driver hash is not);
  - every value's TYPE must match between the two sides;
  - POLICY: any DECIMAL-typed output column fails outright. The driver's hash
    canonicalizes Spark parquet decimals and DuckDB result decimals
    differently when values carry trailing zeros (judge-verified, round 1) —
    final outputs must be cast to DOUBLE/BIGINT on both sides. Exact decimal
    arithmetic stays INTERNAL to queries.
"""
import json
import math
import sys
from decimal import Decimal
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def typed(v):
    """(type-name, canonical value) so float 5.0 never equals Decimal('5.00')."""
    c = canon(v)
    return (type(c).__name__, repr(c))


def rowset(cur):
    """Columns + sorted typed rows from a DuckDB cursor/relation via fetchall()."""
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(typed(row[i]) for i in order) for row in cur.fetchall()]
    return sorted(cols), sorted(rows)


def decimal_columns(cur_desc):
    """Output columns whose declared cursor type is DECIMAL."""
    cols = [d[0] for d in cur_desc]
    bad = {c for c, d in zip(cols, cur_desc) if "DECIMAL" in str(d[1]).upper()}
    return sorted(bad)


def main():
    out_dir, sf_dir = Path(sys.argv[1]), sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).is_dir():  # Spark-written table (e.g. a ScaleData sf1 dir)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif Path(p).exists():  # driver-generated single file
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_pass = n_fail = n_skip = 0
    dumped = {d.name for d in out_dir.iterdir() if d.is_dir()}
    for name in sorted(set(oracle) | dumped):
        if only and name not in only:
            continue
        if name not in dumped:
            print(f"FAIL {name}: no Spark output")
            n_fail += 1
            continue
        with duckdb.connect() as scon:
            scur = scon.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            sdesc = scur.description
            sc, sr = rowset(scur)
        if name not in oracle:
            print(f"SKIP {name}: no oracle ({len(sr)} rows)")
            n_skip += 1
            continue
        try:
            dcur = con.execute(oracle[name])
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        ddesc = dcur.description
        dc, dr = rowset(dcur)
        dec_cols = sorted(set(decimal_columns(sdesc)) | set(decimal_columns(ddesc)))
        if dec_cols:
            print(f"FAIL {name}: DECIMAL output columns {dec_cols} — driver hash is "
                  f"unreliable for fixed-scale decimals; cast to DOUBLE on both sides")
            n_fail += 1
            continue
        if sc != dc:
            print(f"FAIL {name}: columns spark={sc} duck={dc}")
            n_fail += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rows spark={len(sr)} duck={len(dr)}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(sr)} rows differ; first at {i}:")
            print(f"  cols : {sc}")
            print(f"  spark: {a}")
            print(f"  duck : {b}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sr)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} no-oracle")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
