"""The benchmark's workloads: inputs, one operation, and its check.

Each workload is a closed loop with one client: the next operation starts
when the previous one has returned. It runs ``warmup_ops`` untimed ops,
then at least ``min_timed_ops`` timed ones. ``prepare`` is benchmark-only
work (generate the seeded inputs, compute the expected answers) and runs
before the Spark session exists; ``op`` is one operation; ``check``
returns the ways its result is wrong.
"""

from __future__ import annotations

import contextlib
import io
import json
import os

import corpus
import reference
import tables

# the reference CLI's default stream length (run_detectors.py)
COLD_STREAM = 200


class CliWorkload:
    """``cli.main --force-reload`` over a generated conversation corpus:
    the ETL rebuilds and rewrites the parquet cache on every op, then the
    detectors run over the first ``limit`` messages of the test split."""

    split = "test"
    # the first op runs about twice as long as later ones; a second
    # warm-up did not narrow the run-to-run spread
    warmup_ops = 1
    min_timed_ops = 2

    def __init__(self, limit: int):
        self.limit = limit

    def prepare(self, run_dir: str, seed: int) -> None:
        self.data_dir = os.path.join(run_dir, "corpus")
        self.cache_dir = os.path.join(run_dir, "cache")
        counts = corpus.generate(self.data_dir, seed)
        # point queries: the most frequent word, a rarer one in upper case,
        # and one the vocabulary cannot produce
        words = counts["vocabulary"]
        self.freq_queries = [words[0], words[50].upper(), "zzunseen"]
        self.want = reference.summary(
            self.data_dir, self.split, self.limit, freq_queries=self.freq_queries
        )
        # every generated message is read by the ETL
        self.rows_per_op = counts["messages"]

    def op(self, spark):
        from bigdataminingproject_spark.cli import main

        args = [
            "--data-dir", self.data_dir,
            "--split", self.split,
            "--max-messages", str(self.limit),
            "--cache-dir", self.cache_dir,
            "--freq-queries", ",".join(self.freq_queries),
            "--force-reload",
        ]
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            main.main(args, standalone_mode=False)
        return json.loads(out.getvalue())

    def check(self, result) -> list[str]:
        return reference.compare(result, self.want)


class RegistryWorkload:
    """One pass over a fixed list of registry queries, each collected and
    compared with its DuckDB oracle."""

    warmup_ops = 1
    # one pass (~100 jobs each for q-digest and golden record) outlasts
    # --seconds; a second timed pass would not fit the run budget
    min_timed_ops = 1

    def __init__(self):
        self.runner = run_query  # the tracer swaps in its phase-split runner

    def prepare(self, run_dir: str, seed: int) -> None:
        import duckdb

        import __spark_entry__
        from check_correctness import _matrix

        self._matrix = _matrix
        self.data_dir = os.path.join(run_dir, "tables")
        counts = tables.generate(self.data_dir, seed)
        con = duckdb.connect()
        # the optimizer spends 8-14 s on the q-digest oracle's unrolled CTE
        # chain; unoptimized plans give the same answers in about 1 s
        con.execute("PRAGMA disable_optimizer")
        for t in counts:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        oracles = __spark_entry__.oracle_sql()
        self.want = {}
        for q in REGISTRY:
            cur = con.execute(oracles[q])
            self.want[q] = _matrix([d[0] for d in cur.description], cur.fetchall())
        con.close()
        self.fns = __spark_entry__.queries()
        # input rows per pass: each query reads one table
        self.rows_per_op = sum(counts[t] for t in REGISTRY.values())

    def op(self, spark):
        return {
            q: self.runner(spark, q, self.fns[q], self.data_dir)
            for q in REGISTRY
        }

    def check(self, result) -> list[str]:
        bad = []
        for q, (cols, rows) in result.items():
            if self._matrix(cols, rows) != self.want[q]:
                bad.append(f"{q}: result differs from the oracle")
        return bad


def run_query(spark, q: str, fn, data_dir: str):
    df = fn(spark, data_dir)
    return df.columns, df.collect()


# query -> the one table it reads: the decayed-counter twin (replay
# staging, state-store appends and folds, triggers) and the three
# planning- and job-bound iterative loops
REGISTRY = {
    "q_stream_decay_maintenance": "events",
    "q_events_qdigest": "events",
    "q_customer_golden_record": "customer",
    "q_knn_pq": "embeddings",
}


def make(name: str):
    if name == "cli_cold":
        return CliWorkload(limit=COLD_STREAM)
    if name == "registry":
        return RegistryWorkload()
    raise KeyError(name)


NAMES = ("cli_cold", "registry")

