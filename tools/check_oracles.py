"""Local mimic of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare row
count, column names, and order-insensitive values."""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod
from transkribusdu_spark.session import build_session

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def main() -> None:
    spark = build_session(master="local[8]", app_name="check_oracles")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if not sql:
            print(f"ROWS  {name}: {len(spdf)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        problems = []
        if len(spdf) != len(odf):
            problems.append(f"rowcount spark={len(spdf)} duckdb={len(odf)}")
        scols, ocols = sorted(spdf.columns), sorted(odf.columns)
        if scols != ocols:
            problems.append(f"cols spark={scols} duckdb={ocols}")
        if not problems:
            a = spdf[scols].map(norm) if hasattr(spdf, "map") else spdf[scols].applymap(norm)
            b = odf[ocols].map(norm) if hasattr(odf, "map") else odf[ocols].applymap(norm)
            sa = sorted(map(tuple, a.itertuples(index=False)))
            sb = sorted(map(tuple, b.itertuples(index=False)))
            if sa != sb:
                diff = [i for i, (x, y) in enumerate(zip(sa, sb)) if x != y][:3]
                for i in diff:
                    problems.append(f"value row {i}: spark={sa[i]} duckdb={sb[i]}")
                if len(sa) != len(sb):
                    problems.append("length mismatch after norm")
                if not diff:
                    problems.append("tail rows differ")
        if problems:
            print(f"FAIL  {name}: " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(spdf)} rows")
            n_pass += 1
    print(f"\nTOTAL pass={n_pass} rows-only={n_rowsonly} fail={n_fail}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
