"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given SF dir, then compares
row count, column names/sorted order, and an order-insensitive value
matrix. Exits non-zero on any mismatch.

Usage: python tools/check_correctness.py [--time] [sf_dir] [query ...]

``--time`` prints each query's Spark wall seconds (plan + collect) in
the PASS/FAIL line — the scale probes (SCALE.md) use this to record
oracle verdict and timing in one pass.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bigdataminingproject_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style canonical float text; queries pre-round so this is
        # just a stable repr
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def _matrix(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mat = sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )
    return [cols[i] for i in order], mat


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--time"]
    timed = "--time" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        # Spark-written tables are directories of part files (e.g. the
        # scale-probe's 10x dir); the driver's testdata are single files
        path = f"{sf_dir}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{pattern}'"
        )
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            t0 = time.perf_counter()
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            spark_sec = round(time.perf_counter() - t0, 1)
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {str(e)[:2000]}")
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only check, {len(srows)} rows")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error: {str(e)[:2000]}")
            continue
        s_cols, s_mat = _matrix(scols, srows)
        o_cols, o_mat = _matrix(ocols, orows)
        if s_cols != o_cols:
            failures.append((name, f"schema: spark={s_cols} oracle={o_cols}"))
            print(f"FAIL  {name}: schema mismatch {s_cols} vs {o_cols}")
            continue
        if len(s_mat) != len(o_mat):
            failures.append(
                (name, f"rowcount: spark={len(s_mat)} oracle={len(o_mat)}")
            )
            print(
                f"FAIL  {name}: rowcount {len(s_mat)} vs {len(o_mat)}; "
                f"spark head={s_mat[:3]} oracle head={o_mat[:3]}"
            )
            continue
        if s_mat != o_mat:
            diffs = [
                (i, a, b)
                for i, (a, b) in enumerate(zip(s_mat, o_mat))
                if a != b
            ][:3]
            failures.append((name, f"values: first diffs {diffs}"))
            print(f"FAIL  {name}: value mismatch, first diffs: {diffs}")
            continue
        suffix = f" [{spark_sec}s spark]" if timed else ""
        print(f"PASS  {name}: {len(s_mat)} rows{suffix}")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {[f[0] for f in failures]}")
        return 1
    print("all queries match the oracle")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
