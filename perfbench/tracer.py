"""Per-layer tracing from outside the program.

The tracer never edits the package. It wraps public functions of the
repo's modules (replacing every module attribute bound to them), gives
each span its own Spark job group, listens to streaming progress, reads
Catalyst phase times from ``QueryExecution.tracker()``, and parses the
Spark event log after the session stops. Spans are kept in memory and
written out as JSON lines when the run ends.

A span's self time is its duration minus the part of it its child spans
cover. Jobs are attributed to the innermost span that submitted them;
actions on a DataFrame returned by a wrapped operator count for that
operator. Streaming jobs carry their query's run id as job group and are
attributed to the registry query that started the stream.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

import proctree
from workloads import REGISTRY

_ACTIONS = ("collect", "first", "count", "take", "head", "toPandas", "isEmpty")

OPERATORS = {
    "bigdataminingproject_spark.operators.dedup": ["duplicate_scores"],
    "bigdataminingproject_spark.operators.snapshots": [
        "snapshot_summary",
        "topk_cumulative_tokens",
        "burst_windows",
    ],
    "bigdataminingproject_spark.operators.frequency": [
        "top_k_tokens",
        "estimate_batch",
    ],
}
QUERIES = list(REGISTRY)
TWINS = [q for q in QUERIES if q.startswith("q_stream_")]
TWIN_FIELDS = {
    "triggers": "count",
    "trigger_s_p50": "s",
    "addBatch_s": "s",
    "queryPlanning_s": "s",
    "walCommit_s": "s",
    "commitOffsets_s": "s",
    "latestOffset_s": "s",
    "input_rows": "rows",
    "state_rows": "rows",
    "state_bytes": "bytes",
    "jobs": "count",
}
SPARK_FIELDS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_failures": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "core_busy_frac": "frac",
    "task_wait_s": "s",
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    units = {"session.get_spark_s": "s", "cli.main_s": "s"}
    conv = "sources.conversations."
    units.update(
        {
            conv + "load_s": "s",
            conv + "load_jobs": "count",
            conv + "files_in": "count",
            conv + "rows_out": "rows",
            conv + "cache_bytes": "bytes",
            conv + "order_s": "s",
            conv + "order_jobs": "count",
        }
    )
    for k, u in (("run_s", "s"), ("self_s", "s"), ("jobs", "count"), ("idle_s", "s")):
        units["plans.pipeline." + k] = u
    for mod, fns in OPERATORS.items():
        short = mod.rsplit(".", 1)[1]
        for fn in fns:
            units[f"operators.{short}.{fn}.s"] = "s"
            units[f"operators.{short}.{fn}.jobs"] = "count"
    for q in QUERIES:
        for k in ("prework_s", "prework_jobs", "catalyst_s", "exec_s", "exec_jobs", "idle_s"):
            units[f"query.{q}.{k}"] = "count" if k.endswith("jobs") else "s"
    for q in TWINS:
        for k, u in TWIN_FIELDS.items():
            units[f"streaming.{q}.{k}"] = u
    units.update(
        {
            "streaming.replay.s": "s",
            "streaming.replay.files": "count",
            "streaming.replay.bytes": "bytes",
            "streaming.statestore.append_s": "s",
            "streaming.statestore.appends": "count",
            "streaming.statestore.read_s": "s",
            "streaming.statestore.merges": "count",
            "streaming.statestore.parts_max": "count",
        }
    )
    for k, u in SPARK_FIELDS.items():
        units["spark." + k] = u
    units.update({"pyworkers.cpu_s": "s", "trace.overhead_frac": "frac"})
    return units


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.local = threading.local()
        self.op: int | None = None  # index of the traced op in progress
        self.n_ops = 0
        self.op_attrs: dict[int, dict] = {}
        self.query_of_run: dict[str, tuple[int | None, str]] = {}
        self.progress: list[dict] = []
        self.store_merges: dict[int, int] = {}  # merges seen per store
        self.spark = None
        self.lock = threading.Lock()

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self.local, "stack"):
            self.local.stack = []
        return self.local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        with self.lock:
            span = Span(
                len(self.spans), name, stack[-1].sid if stack else None,
                self.op, time.time(),
            )
            self.spans.append(span)
        if self.op is not None and self.spark is not None:
            sc = self.spark.sparkContext
            prev = sc.getLocalProperty("spark.jobGroup.id")
            span.attrs["prev_group"] = prev
            # the group the thread ran under before any span: on a stream's
            # batch thread, the stream's run id
            span.attrs["thread_group"] = (
                stack[-1].attrs.get("thread_group") if stack else prev
            )
            sc.setJobGroup(f"pb{span.sid}", name)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().remove(span)
        if "prev_group" in span.attrs:
            # restore the caller's group (a stream's run id on its threads)
            self.spark.sparkContext.setLocalProperty(
                "spark.jobGroup.id", span.attrs.pop("prev_group")
            )

    def wrap(self, name: str, fn, on_result=None, always=False):
        """``fn`` recorded as span ``name`` while a traced op runs (or
        always). ``on_result(span, result, args, kwargs)`` runs after the
        span closes, so its own work is not part of the span."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.op is None and not always:
                return fn(*args, **kwargs)
            span = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(span)
            if on_result is not None:
                on_result(span, out, args, kwargs)
            return out

        return wrapper

    def _wrap_actions(self, name: str):
        def on_result(span, df, args, kwargs):
            for a in _ACTIONS:
                if hasattr(df, a):
                    setattr(df, a, self.wrap(name + ".action", getattr(df, a)))

        return on_result

    # -- install -------------------------------------------------------------

    @staticmethod
    def _rebind(original, replacement) -> None:
        """Point every package-module attribute bound to ``original`` at
        ``replacement`` (covers ``from x import f`` done before install)."""
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (
                mname.startswith("bigdataminingproject_spark")
                or mname == "__spark_entry__"
            ):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, replacement)

    def _patch(self, module: str, fn: str, name: str, on_result=None) -> None:
        mod = __import__(module, fromlist=[fn])
        original = getattr(mod, fn)
        self._rebind(original, self.wrap(name, original, on_result))

    def install(self) -> None:
        import importlib

        from bigdataminingproject_spark import cli

        for m in (
            "bigdataminingproject_spark.plans.pipeline",
            "bigdataminingproject_spark.streaming.pipeline",
            "bigdataminingproject_spark.streaming.statestore",
        ):
            importlib.import_module(m)
        session = __import__("bigdataminingproject_spark.session", fromlist=["get_spark"])
        self._rebind(
            session.get_spark,
            self.wrap("session.get_spark", session.get_spark, always=True),
        )
        cli.main.callback = self.wrap("cli.main", cli.main.callback)
        conv = "bigdataminingproject_spark.sources.conversations"
        self._patch(conv, "load_or_build_messages", "sources.conversations.load", self._on_load)
        self._patch(conv, "ordered_message_stream", "sources.conversations.order")
        self._patch("bigdataminingproject_spark.plans.pipeline", "run_detector_pipeline", "plans.pipeline")
        for mod, fns in OPERATORS.items():
            short = mod.rsplit(".", 1)[1]
            for fn in fns:
                name = f"operators.{short}.{fn}"
                self._patch(mod, fn, name, self._wrap_actions(name))
        self._patch(
            "bigdataminingproject_spark.streaming.replay", "file_replay_source",
            "streaming.replay", self._on_replay,
        )
        from bigdataminingproject_spark.streaming import statestore

        store = statestore.AppendOnlyPartsStore
        store.append = self.wrap("streaming.statestore.append", store.append, self._on_append)
        store.read = self.wrap("streaming.statestore.read", store.read)

    def _on_load(self, span, df, args, kwargs):
        import pyarrow.parquet as pq

        cfg = args[1] if len(args) > 1 else kwargs["config"]
        cache_dir = args[2] if len(args) > 2 else kwargs["cache_dir"]
        force = kwargs.get("force_reload", args[3] if len(args) > 3 else False)
        path = os.path.join(cache_dir, cfg.cache_key())
        parts = [
            os.path.join(dp, f)
            for dp, _d, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        span.attrs.update(
            # JSON files scanned when it builds, cache parts when it reads
            files_in=len(os.listdir(cfg.data_dir)) if force else len(parts),
            rows_out=sum(pq.ParquetFile(p).metadata.num_rows for p in parts),
            cache_bytes=sum(os.path.getsize(p) for p in parts),
        )

    def _on_replay(self, span, df, args, kwargs):
        staging = args[2] if len(args) > 2 else kwargs["staging_dir"]
        files = [
            os.path.join(staging, f)
            for f in os.listdir(staging)
            if f.endswith(".parquet")
        ]
        span.attrs.update(files=len(files), bytes=sum(map(os.path.getsize, files)))

    def _on_append(self, span, _out, args, kwargs):
        import pyarrow.parquet as pq

        store = args[0]
        before = self.store_merges.get(id(store), 0)
        self.store_merges[id(store)] = store.merges
        # the whole state after this append, from the parts on disk
        files = [
            os.path.join(dp, f)
            for root in store.protected + [p for p, _l, _n in store.parts]
            for dp, _d, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        ]
        span.attrs.update(
            merges=store.merges - before,
            parts=store.n_parts,
            query=self.current_query(),
            state_rows=sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            state_bytes=sum(map(os.path.getsize, files)),
        )

    # -- registry queries ----------------------------------------------------

    def run_query(self, spark, q: str, fn, data_dir: str):
        """One registry query split into pre-work, Catalyst and execution."""
        if self.op is None:
            df = fn(spark, data_dir)
            return df.columns, df.collect()
        qspan = self.open(f"query.{q}")
        try:
            pre = self.open(f"query.{q}.prework")
            try:
                df = fn(spark, data_dir)
            finally:
                self.close(pre)
            ex = self.open(f"query.{q}.exec")
            try:
                rows = df.collect()
            finally:
                self.close(ex)
            tracker = df._jdf.queryExecution().tracker()
            catalyst = 0.0
            for phase in ("analysis", "optimization", "planning"):
                opt = tracker.phases().get(phase)
                if opt.isDefined():
                    catalyst += opt.get().durationMs() / 1000.0
            qspan.attrs["catalyst_s"] = catalyst
            return df.columns, rows
        finally:
            self.close(qspan)

    def current_query(self) -> str | None:
        for span in reversed(self._stack_main):
            if span.name.startswith("query.") and span.name.count(".") == 1:
                return span.name.split(".", 1)[1]
        return None

    # -- session hooks -------------------------------------------------------

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self._stack_main = self._stack()
        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                owner = (tracer.op, tracer.current_query())
                tracer.query_of_run[str(event.runId)] = owner
                tracer.query_of_run[str(event.id)] = owner

            def onQueryProgress(self, event):
                tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def detach(self, spark) -> None:
        time.sleep(1.0)  # let the listener bus deliver the last progress
        spark.streams.removeListener(self.listener)

    def begin_op(self, traced: bool) -> None:
        self.n_ops += 1
        self.op = self.n_ops if traced else None
        if traced:
            self.op_attrs[self.op] = {
                "start": time.time(),
                "pycpu": proctree.pyworker_cpu_s(),
            }
            self.op_span = self.open("op")

    def end_op(self) -> None:
        if self.op is None:
            return
        self.close(self.op_span)
        a = self.op_attrs[self.op]
        a["end"] = time.time()
        a["pycpu"] = proctree.pyworker_cpu_s() - a["pycpu"]
        self.op = None

    # -- metrics -------------------------------------------------------------

    def metrics(self, run_dir: str, overhead_frac: float, spans_out: str) -> dict:
        jobs = parse_event_log(os.path.join(run_dir, "events"))
        with open(spans_out, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")
        per_op = [self._op_metrics(op, jobs) for op in sorted(self.op_attrs)]
        units = metric_units()
        out = {}
        for name, unit in units.items():
            vals = [m.get(name, 0.0) for m in per_op] or [0.0]
            out[name] = {"value": float(statistics.median(vals)), "unit": unit}
        out["trace.overhead_frac"]["value"] = overhead_frac
        return out

    def _op_metrics(self, op: int, jobs: dict) -> dict:
        spans = [s for s in self.spans if s.op == op]
        by_id = {s.sid: s for s in spans}
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent in by_id:
                children.setdefault(s.parent, []).append(s)
        group_of = {f"pb{s.sid}": s for s in spans}
        twin_runs = {
            run: q for run, (o, q) in self.query_of_run.items() if o == op
        }
        own_jobs: dict[int, list[dict]] = {}
        for j in jobs.values():
            if j.get("group") in group_of:
                own_jobs.setdefault(group_of[j["group"]].sid, []).append(j)

        def all_jobs(s: Span) -> list[dict]:
            out = list(own_jobs.get(s.sid, []))
            for c in children.get(s.sid, []):
                out += all_jobs(c)
            return out

        def self_time(s: Span) -> float:
            return s.dur - covered([(c.start, c.end) for c in children.get(s.sid, [])], s.start, s.end)

        def idle(s: Span) -> float:
            busy = [(j["start"], j["end"]) for j in jobs.values()]
            return s.dur - covered(busy, s.start, s.end)

        def inside_operator(s: Span) -> bool:
            p = by_id.get(s.parent)
            while p is not None:
                if p.name.startswith("operators."):
                    return True
                p = by_id.get(p.parent)
            return False

        m: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            m[key] = m.get(key, 0.0) + v

        for s in spans:
            n = s.name
            if n == "cli.main":
                add("cli.main_s", s.dur)
            elif n == "sources.conversations.load":
                add("sources.conversations.load_s", s.dur)
                add("sources.conversations.load_jobs", len(all_jobs(s)))
                for k in ("files_in", "rows_out", "cache_bytes"):
                    add("sources.conversations." + k, s.attrs.get(k, 0))
            elif n == "sources.conversations.order":
                add("sources.conversations.order_s", s.dur)
                add("sources.conversations.order_jobs", len(all_jobs(s)))
            elif n == "plans.pipeline":
                add("plans.pipeline.run_s", s.dur)
                add("plans.pipeline.self_s", self_time(s))
                add("plans.pipeline.jobs", len(all_jobs(s)))
                add("plans.pipeline.idle_s", idle(s))
            elif n.startswith("operators."):
                # the operator call, plus the actions on what it returned;
                # operators called inside another operator count there
                if not inside_operator(s):
                    base = n.removesuffix(".action")
                    add(base + ".s", s.dur)
                    add(base + ".jobs", len(all_jobs(s)))
            elif n.startswith("query.") and n.count(".") == 1:
                q = n.split(".", 1)[1]
                add(f"query.{q}.catalyst_s", s.attrs.get("catalyst_s", 0.0))
                add(f"query.{q}.idle_s", idle(s))
            elif n.startswith("query.") and n.endswith((".prework", ".exec")):
                q, phase = n.split(".")[1:3]
                add(f"query.{q}.{phase}_s", s.dur)
                add(f"query.{q}.{phase}_jobs", len(all_jobs(s)))
            elif n == "streaming.replay":
                add("streaming.replay.s", s.dur)
                add("streaming.replay.files", s.attrs.get("files", 0))
                add("streaming.replay.bytes", s.attrs.get("bytes", 0))
            elif n == "streaming.statestore.append":
                add("streaming.statestore.append_s", s.dur)
                add("streaming.statestore.appends", 1)
                add("streaming.statestore.merges", s.attrs.get("merges", 0))
                m["streaming.statestore.parts_max"] = max(
                    m.get("streaming.statestore.parts_max", 0), s.attrs.get("parts", 0)
                )
            elif n == "streaming.statestore.read":
                add("streaming.statestore.read_s", s.dur)

        for q in TWINS:
            runs = {r for r, tq in twin_runs.items() if tq == q}
            prog = [p for p in self.progress if p.get("runId") in runs]
            runs |= {p.get("id") for p in prog}
            if not prog:
                continue
            d = [p.get("durationMs", {}) for p in prog]
            pre = f"streaming.{q}."
            m[pre + "triggers"] = len(prog)
            m[pre + "trigger_s_p50"] = statistics.median(x.get("triggerExecution", 0) for x in d) / 1000
            for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
                m[pre + k + "_s"] = sum(x.get(k, 0) for x in d) / 1000
            m[pre + "input_rows"] = sum(p.get("numInputRows", 0) for p in prog)
            # state held by Spark's state operators, or by the twin's own
            # AppendOnlyPartsStore (on disk)
            appends = [
                s.attrs for s in spans
                if s.name == "streaming.statestore.append" and s.attrs.get("query") == q
            ]
            m[pre + "state_rows"] = max(
                [sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])) for p in prog]
                + [a["state_rows"] for a in appends]
            )
            m[pre + "state_bytes"] = max(
                [sum(s.get("memoryUsedBytes", 0) for s in p.get("stateOperators", [])) for p in prog]
                + [a["state_bytes"] for a in appends]
            )
            # jobs of the stream's run, also those inside wrapped calls
            # made from its batch function
            m[pre + "jobs"] = sum(
                1
                for j in jobs.values()
                if j.get("group") in runs
                or (
                    j.get("group") in group_of
                    and group_of[j["group"]].attrs.get("thread_group") in runs
                )
            )

        a = self.op_attrs[op]
        op_jobs = [j for j in jobs.values() if a["start"] <= j["start"] <= a["end"]]
        wall = a["end"] - a["start"]
        tasks = [t for j in op_jobs for t in j["tasks"]]
        m["spark.jobs"] = len(op_jobs)
        m["spark.stages"] = sum(j["stages"] for j in op_jobs)
        m["spark.tasks"] = len(tasks)
        m["spark.task_failures"] = sum(1 for t in tasks if not t["ok"])
        for k in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "task_wait_s"):
            m["spark." + k] = sum(t[k] for t in tasks)
        cores = len(os.sched_getaffinity(0))
        m["spark.core_busy_frac"] = sum(t["dur_s"] for t in tasks) / (wall * cores)
        m["session.get_spark_s"] = next(
            (s.dur for s in self.spans if s.name == "session.get_spark"), 0.0
        )
        m["pyworkers.cpu_s"] = a["pycpu"]
        return m


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def parse_event_log(events_dir: str) -> dict[int, dict]:
    """Jobs of the event log: group, wall interval, stage count and the
    metrics of every task of their stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    paths = [
        os.path.join(dp, fn)
        for dp, _dn, fns in os.walk(events_dir)
        for fn in fns
        if fn.startswith("events_")
    ]
    # rolling logs are events_<n>_<app>: read them in index order
    paths.sort(key=lambda p: [int(x) if x.isdigit() else x for x in os.path.basename(p).split("_")])
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000,
                        "end": ev["Submission Time"] / 1000,
                        "stages": 0,
                        "tasks": [],
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get("Submission Time", 0) / 1000
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid in jobs:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid not in jobs:
                        continue
                    info = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics", {})
                    sw = tm.get("Shuffle Write Metrics", {})
                    launch = info.get("Launch Time", 0) / 1000
                    jobs[jid]["tasks"].append(
                        {
                            "ok": ev.get("Task End Reason", {}).get("Reason") == "Success",
                            "dur_s": info.get("Finish Time", 0) / 1000 - launch,
                            "task_wait_s": max(0.0, launch - stage_submit.get(ev["Stage ID"], launch)),
                            "executor_run_s": tm.get("Executor Run Time", 0) / 1000,
                            "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": tm.get("JVM GC Time", 0) / 1000,
                            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                            "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "spill_bytes": tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0),
                        }
                    )
    return jobs
