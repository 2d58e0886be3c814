"""Solo profiler for one or more declared queries (guide §1).

For each query name: fresh-session warmup (generic + sf0.001 plan-shape
run), then N timed executions at the target SF with
``setJobDescription`` labels, reporting min/median wall seconds and the
Spark job count per execution (job-count inflation is the cheap proxy
for per-batch/foreachBatch fixed costs).  ``--explain`` additionally
writes ``plans/r11/<query>_<tag>.txt`` under the repo root with
``explain("formatted")`` of the returned DataFrame (the final batch
plan; streaming twins' inner micro-batch plans are not captured here).

Usage:
    python tools/profile_query.py [--sf DIR] [--runs N] [--explain TAG] q1 q2 ...
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS_DIR = os.path.join(REPO_ROOT, "plans", "r11")
sys.path.insert(0, REPO_ROOT)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    runs = 2
    explain_tag = None
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif a == "--runs":
            runs = int(args[i + 1])
            i += 2
        elif a == "--explain":
            explain_tag = args[i + 1]
            i += 2
        else:
            names.append(a)
            i += 1

    import __spark_entry__ as entrymod
    from bigdataminingproject_spark.session import get_spark

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for name in names:
        fn = qs[name]
        try:
            fn(spark, "/root/testdata/sf0.001").collect()
        except Exception as exc:  # warmup best-effort
            print(f"# warmup {name}: {exc}", file=sys.stderr)
        times = []
        jobs_per_run = []
        rows = 0
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"{name} run{r}")
            j0 = len(tracker.getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            rows = len(df.collect())
            times.append(round(time.perf_counter() - t0, 3))
            j1 = len(tracker.getJobIdsForGroup(None) or [])
            jobs_per_run.append(j1 - j0)
            spark.sparkContext.setJobDescription(None)
        if explain_tag:
            os.makedirs(PLANS_DIR, exist_ok=True)
            try:
                txt = fn(spark, sf_dir)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                with open(
                    os.path.join(PLANS_DIR, f"{name}_{explain_tag}.txt"), "w"
                ) as fh:
                    fh.write(txt)
            except Exception as exc:
                print(f"# explain {name}: {exc}", file=sys.stderr)
        rec = {
            "min": min(times),
            "all": times,
            "rows": rows,
            "jobs": jobs_per_run,
        }
        out[name] = rec
        print(f"# {name}: {rec}", file=sys.stderr)
    print(json.dumps({"sf": sf_dir, "queries": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
