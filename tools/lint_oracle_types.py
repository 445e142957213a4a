#!/usr/bin/env python3
"""Lint the ORACLE side of the output-type contract.

The Scala RegistryContractSpec pins the Spark output schemas to the
driver envelope (string/long/int/double/date/timestamp/boolean). This
tool pins the DuckDB side: DESCRIBE each oracle query (plans only, no
execution) and fail on any output column whose type leaves the
envelope — DECIMAL and HUGEINT reach the driver's pandas frame as
float64 (while Spark's parquet stays Decimal/int64), and LIST/STRUCT
cells kill its sort. An uncast `sum(bigint)` silently widens to
HUGEINT, which is exactly how r5's q105/q108/q164 went red.

Usage: lint_oracle_types.py <sfDir> <verifyOutDir>
  (reads <verifyOutDir>/oracle_sql.json written by graft.Verify)
"""
import json
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

OK_EXACT = {"VARCHAR", "BIGINT", "INTEGER", "DOUBLE", "DATE", "BOOLEAN"}


def type_ok(ty):
    t = ty.upper()
    # exact-match the scalar envelope; TIMESTAMP variants (WITH TIME
    # ZONE, _NS, ...) pass by prefix. A '[' anywhere is a LIST of an
    # envelope type (e.g. 'BIGINT[]') — the r5-q159 failure class — and
    # must NOT ride the prefix match.
    if "[" in t or t.startswith(("STRUCT", "MAP", "UNION")):
        return False
    return t in OK_EXACT or t.startswith("TIMESTAMP")


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            desc = con.sql(f"DESCRIBE {sql}").fetchall()
        except Exception as e:
            print(f"ERR  {name}: oracle does not plan: {e}")
            n_bad += 1
            continue
        bad = [(c, ty) for c, ty, *_ in desc if not type_ok(ty)]
        if bad:
            n_bad += 1
            cols = ", ".join(f"{c}:{ty}" for c, ty in bad)
            print(f"FAIL {name}: out-of-envelope oracle types: {cols}")
    print(f"\n{len(oracle) - n_bad} clean, {n_bad} flagged, "
          f"{len(oracle)} oracles")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
