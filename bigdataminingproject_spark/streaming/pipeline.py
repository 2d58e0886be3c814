"""Structured Streaming twins of the batch analytics (SURVEY.md Phase 4).

The reference's detectors are per-event mutable-state Python (W1,
streaming_pipeline.py:30-53). Their live Spark equivalents:

- frequency (A2/A7): windowed ``groupBy(token).count()`` with watermark —
  exact, mergeable, bounded state via event-time eviction (W6 improvement
  over the reference, whose Bloom/CMS state grows forever);
- duplicate detection (A1/A10): ``dropDuplicatesWithinWatermark`` on the
  normalized fingerprint for exact first-wins dedup, plus a stateful
  shingle-score variant in ``streaming_duplicate_scores`` using
  ``applyInPandasWithState`` (the check-then-insert semantics);
- burst (W3): tumbling-window counts joined against the previous window
  via a self-join in ``foreachBatch`` (ratio test identical to batch);
- snapshots (W5): ``foreachBatch`` appending one summary row per trigger.

Every query here uses update/append with watermarks so state is bounded —
the property that lets the same topology run against a real Kafka source
at cluster scale.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataminingproject_spark.functions.text import remove_stopwords, tokenize
from bigdataminingproject_spark.sources.tables import load_table
from bigdataminingproject_spark.streaming.replay import file_replay_source
from bigdataminingproject_spark.streaming.statestore import AppendOnlyPartsStore

# shuffle width of a bounded micro-batch drain (_microbatch_shuffle_cap)
STREAM_SHUFFLE_CAP = 8


def streaming_token_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    text_col: str = "body",
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Windowed exact token counts (A2 exact-first, live)."""
    toks = remove_stopwords(tokenize(F.col(text_col)))
    return (
        stream.withWatermark(ts_col, watermark)
        .select(F.col(ts_col), F.explode(toks).alias("token"))
        .groupBy(F.window(ts_col, window).alias("win"), "token")
        .agg(F.count(F.lit(1)).alias("token_count"))
        .select(
            F.col("win.start").alias("window_start"),
            "token",
            "token_count",
        )
    )


def streaming_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling windowed counts per key with late-data handling (W5/W6)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), key_col)
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "event_count",
            "total_value",
        )
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "body",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact streaming dedup on the normalized-text fingerprint (A1 exact).

    First occurrence wins (the reference's check-then-insert). With an
    event-time column the state is bounded by the watermark
    (dropDuplicatesWithinWatermark); without one it is the unbounded
    dropDuplicates — the same monotone growth the reference's Bloom filter
    has (bloom_filter.py fill_ratio), made explicit.
    """
    fp = F.md5(
        F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " ")
    ).alias("fingerprint")
    out = stream.select("*", fp)
    if ts_col is not None:
        return out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["fingerprint"]
        )
    return out.dropDuplicates(["fingerprint"])


def _score_shingle_batch(
    shingle: str, seen: bool, ids: list[int]
) -> list[tuple[str, int, bool]]:
    """Shared per-(shingle, batch) scoring kernel for BOTH stateful APIs
    (applyInPandasWithState and transformWithStateInPandas).

    check-then-insert at message granularity: a message's repeats of a
    shingle it introduced do NOT self-hit (reference
    duplicate_detector.py:57-61); later messages in the same batch, and
    any message once state says seen, do.
    """
    ids = sorted(ids)
    rows: list[tuple[str, int, bool]] = []
    prev: int | None = None
    seen_before_msg = seen
    for m in ids:
        if prev is not None and m != prev:
            seen_before_msg = True
        rows.append((shingle, m, seen_before_msg))
        prev = m
    return rows


def streaming_duplicate_scores(
    stream: DataFrame,
    msg_col: str = "msg_id",
    text_col: str = "body",
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Stateful shingle-overlap duplicate scoring (A10 live).

    Custom stateful operator (SURVEY.md §4 hard-part 2) via
    ``applyInPandasWithState`` keyed by shingle: state is "has this
    shingle been seen in a previous batch"; within a batch, occurrences
    after the first are hits (check-then-insert order preserved at batch
    granularity). A second aggregation turns per-shingle hits into the
    per-message hit fraction.

    Output mode: append (per-shingle emissions), aggregated per message in
    ``foreachBatch`` by the caller or downstream batch job.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bigdataminingproject_spark.functions.text import shingles

    toks = tokenize(F.col(text_col))
    sh = stream.select(
        F.col(msg_col).alias("msg_id"),
        F.explode(shingles(toks, k)).alias("shingle"),
    )

    out_schema = StructType(
        [
            StructField("shingle", StringType()),
            StructField("msg_id", LongType()),
            StructField("hit", BooleanType()),
        ]
    )
    state_schema = StructType([StructField("seen", BooleanType())])

    def score(key, pdfs, state: GroupState):
        import pandas as pd

        (shingle,) = key
        seen = bool(state.get[0]) if state.exists else False
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(m) for m in pdf["msg_id"])
        rows = _score_shingle_batch(shingle, seen, ids)
        if ids:
            state.update((True,))
        yield pd.DataFrame(rows, columns=["shingle", "msg_id", "hit"])

    return sh.groupBy("shingle").applyInPandasWithState(
        score,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class ShingleSeenProcessor:
    """The ``transformWithStateInPandas`` stateful processor behind
    ``streaming_duplicate_scores_tws`` — module-level (not nested in the
    operator) so its ``init``/``handleInputRows`` contract is directly
    unit-testable with a fake handle while the environment lacks the
    protobuf runtime TWS needs to execute.

    Mixed in under ``StatefulProcessor`` at operator-construction time
    (``_tws_processor()``): the class itself stays base-class-free so a
    plain instance can be driven in tests without any Spark runtime.
    State contract: one boolean ValueState "seen" per shingle key —
    "was this shingle seen in any PREVIOUS batch"; within a batch the
    shared ``_score_shingle_batch`` kernel preserves check-then-insert
    order at batch granularity.
    """

    def init(self, handle) -> None:
        from pyspark.sql.types import BooleanType, StructField, StructType

        self._seen = handle.getValueState(
            "seen", StructType([StructField("seen", BooleanType())])
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        (shingle,) = key
        cur = self._seen.get() if self._seen.exists() else None
        seen = bool(cur[0]) if cur is not None else False
        ids: list[int] = []
        for pdf in rows:
            ids.extend(int(m) for m in pdf["msg_id"])
        out = _score_shingle_batch(shingle, seen, ids)
        if ids:
            self._seen.update((True,))
        yield pd.DataFrame(out, columns=["shingle", "msg_id", "hit"])

    def close(self) -> None:
        pass


def _tws_processor():
    """ShingleSeenProcessor subclassed under the real StatefulProcessor
    base (which pyspark requires of the operator argument)."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    return type(
        "ShingleSeenProcessorTWS", (ShingleSeenProcessor, StatefulProcessor), {}
    )()


def streaming_duplicate_scores_tws(
    stream: DataFrame,
    msg_col: str = "msg_id",
    text_col: str = "body",
    k: int = 3,
) -> DataFrame:
    """``transformWithStateInPandas`` twin of
    ``streaming_duplicate_scores`` — identical semantics on Spark 4.x's
    successor stateful API (arbitrary named state, timers, TTL support;
    requires the RocksDB state store provider).

    Kept alongside the applyInPandasWithState operator because the two
    APIs have different operational envelopes at scale: TWS state lives
    in RocksDB (spillable, point-lookup — right for a shingle store
    that outgrows executor heaps), while GroupState is heap-bound.
    A pytest pins that both produce identical hit sets on a replayed
    stream.

    ENVIRONMENT BOUNDARY: executing TWS requires ``google.protobuf``
    (the state-server wire protocol) plus the RocksDB state store
    provider. protobuf is absent in this container, so the equivalence
    test skip-gates on it (same pattern as the NLTK lemmatizer path);
    the operator itself is the production code path.
    """
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bigdataminingproject_spark.functions.text import shingles

    toks = tokenize(F.col(text_col))
    sh = stream.select(
        F.col(msg_col).alias("msg_id"),
        F.explode(shingles(toks, k)).alias("shingle"),
    )
    out_schema = StructType(
        [
            StructField("shingle", StringType()),
            StructField("msg_id", LongType()),
            StructField("hit", BooleanType()),
        ]
    )

    return sh.groupBy("shingle").transformWithStateInPandas(
        statefulProcessor=_tws_processor(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="None",
    )


@contextlib.contextmanager
def _microbatch_shuffle_cap(spark):
    """Cap ``spark.sql.shuffle.partitions`` for the duration of a
    bounded stream drain, restoring the session value afterwards.

    Stateful micro-batch operators (stream-stream join state stores,
    windowed-agg state, dropDuplicates) create exactly
    ``shuffle.partitions`` state-store instances and tasks PER STATEFUL
    OPERATOR PER BATCH, with no AQE coalescing (AQE is disabled inside
    micro-batch plans), and the foreachBatch upserts' per-batch groupBy
    shuffles inherit the same width. A micro-batch delta is bounded by
    the trigger, not the corpus, so its shuffle width should track the
    DELTA's bytes (guide §2.2: partitions sized for ~100 MB+, here the
    deltas are single-digit MB), never the cluster core count —
    otherwise per-batch fixed cost grows linearly with cluster size,
    which is exactly the anti-scaling the round-10 driver measured on
    the stream-stream join (8-core/32-core ratio 0.42: 32 cores was
    2.4x SLOWER than 8). ``STREAM_SHUFFLE_CAP`` = 8 is delta-appropriate
    at every bench SF while keeping multi-way scan/probe parallelism.

    Partition count never changes what any query computes — only task
    fan-out; the oracle gate re-verifies every twin bit-for-bit.
    """
    cap = STREAM_SHUFFLE_CAP
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key, "200")
    try:
        cur = int(before)
    except (TypeError, ValueError):
        cur = None  # exotic deployments ("auto"): leave untouched
    if cur is None or cur <= cap:
        yield
        return
    spark.conf.set(key, str(cap))
    try:
        yield
    finally:
        spark.conf.set(key, before)


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "update",
) -> None:
    """Drain a bounded stream into an in-memory table (availableNow)."""
    with _microbatch_shuffle_cap(stream_df.sparkSession):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def snapshot_sink(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], Any],
) -> "Any":
    """W5 snapshot sink: run ``batch_fn(batch_df, batch_id)`` per trigger
    (foreachBatch), availableNow-bounded. Returns the finished query."""
    with _microbatch_shuffle_cap(stream_df.sparkSession):
        q = (
            stream_df.writeStream.foreachBatch(batch_fn)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


class Twin:
    """The scaffold one streaming twin runs in (see :func:`run_twin`).

    Everything a twin stages or keeps lives under one private directory:
    ``replay`` stages a bounded source there as a file stream, ``store``
    opens an :class:`AppendOnlyPartsStore` there, and ``path`` names any
    other state directory. ``sink`` drains a stream through a
    ``foreachBatch`` function; ``memory`` drains it into a memory-sink
    table and returns that table.
    """

    def __init__(self, spark, root: str) -> None:
        self.spark = spark
        self.root = root
        self.views: list[str] = []  # memory-sink tables to drop
        self._replays = 0

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def replay(
        self,
        df: DataFrame,
        order_col: str,
        chunks: int = 4,
        files_per_trigger: int = 1,
    ) -> DataFrame:
        self._replays += 1
        return file_replay_source(
            self.spark,
            df,
            self.path(f"replay{self._replays}"),
            chunks=chunks,
            files_per_trigger=files_per_trigger,
            order_col=order_col,
        )

    def store(
        self,
        name: str,
        merge_transform=None,
        fanout: int = 2,
        partition_col: str | None = None,
    ) -> AppendOnlyPartsStore:
        return AppendOnlyPartsStore(
            self.spark,
            self.root,
            name,
            merge_fanout=fanout,
            merge_transform=merge_transform,
            partition_col=partition_col,
            count_rows=False,
        )

    def sink(
        self, stream: DataFrame, upsert: Callable[[DataFrame, Any], Any]
    ) -> None:
        snapshot_sink(stream, upsert)

    def memory(self, stream: DataFrame, output_mode: str) -> DataFrame:
        name = f"twin_{uuid.uuid4().hex[:12]}"
        self.views.append(name)
        run_to_memory(stream, name, output_mode=output_mode)
        return self.spark.table(name)


def run_twin(spark, body: Callable[[Twin], DataFrame]) -> DataFrame:
    """Run one streaming twin: ``body(twin)`` replays, drains and returns
    the published relation. The relation is materialized
    (``localCheckpoint(eager=True)``) before the twin's memory-sink
    tables are dropped and its directory is removed, and both go on
    error too.

    A replay always stages at least one file (an empty source stages
    one empty file), so every drain runs at least one micro-batch and
    a store its upsert appends to unconditionally is never empty at
    publish.
    """
    with tempfile.TemporaryDirectory(prefix="twin_") as root:
        twin = Twin(spark, root)
        try:
            return body(twin).localCheckpoint(eager=True)
        finally:
            for name in twin.views:
                spark.catalog.dropTempView(name)


def streaming_burst_parity(
    stream: DataFrame,
    pos_col: str = "stream_pos",
    text_col: str = "body",
    window: int = 50,
    threshold: float = 2.0,
    min_count: int = 1,
):
    """Count-based sliding-window burst detection, DGIM-backed (W2+W3
    streaming parity — SURVEY.md §4 hard-part 1).

    The reference windows over the last N *messages*, not event-time
    (dgim.py / burst_detector.py). Spark has no count-based stream
    windows, so this is a custom stateful operator: per-token DGIM
    counters (operators/sketches.Dgim) advanced by the global stream
    position, held in ``applyInPandasWithState`` state as a JSON blob;
    each micro-batch emits the spike set at its last position with the
    reference's exact ratio rule ((recent+1e-6)/(prev+1e-6) >= threshold,
    recent >= min_count, ordered by -ratio/-recent).

    PARITY MODE, deliberately not the scale path: count-based windows
    need a total order, so everything groups under one key (single
    partition) — exactly the reference's execution model with bounded
    DGIM memory per token. The scalable exact equivalent is
    operators/snapshots.burst_windows (batch) or event-time windows
    (streaming_event_counts).
    """
    import json as _json

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bigdataminingproject_spark.operators.sketches import Dgim

    toks = tokenize(F.col(text_col))
    tok = stream.select(
        F.lit(0).alias("shard"),
        F.col(pos_col).cast("long").alias("pos"),
        F.explode(toks).alias("token"),
    )
    out_schema = StructType(
        [
            StructField("boundary", LongType()),
            StructField("token", StringType()),
            StructField("recent_count", LongType()),
            StructField("prev_count", LongType()),
            StructField("ratio", DoubleType()),
        ]
    )
    state_schema = StructType([StructField("blob", StringType())])
    recent_k = window // 2

    def detect(key, pdfs, state: GroupState):
        blob = state.get[0] if state.exists else "{}"
        stored = _json.loads(blob)
        dgims = {
            t: Dgim.from_state(window, flat) for t, flat in stored.items()
        }
        events: list[tuple[int, str]] = []
        for pdf in pdfs:
            events.extend(zip((int(p) for p in pdf["pos"]), pdf["token"]))
        events.sort()
        maxpos = 0
        for pos, token in events:
            d = dgims.setdefault(token, Dgim(window=window))
            while d.clock < pos:
                d.tick()
            d.add(1)
            maxpos = max(maxpos, pos)
        rows = []
        for token, d in dgims.items():
            while d.clock < maxpos:
                d.tick()
            recent = d.count(recent_k)
            prev = max(0, d.count(2 * recent_k) - recent)
            if recent < min_count:
                continue
            ratio = (recent + 1e-6) / (prev + 1e-6)
            if ratio >= threshold:
                rows.append((maxpos, token, recent, prev, round(ratio, 4)))
        rows.sort(key=lambda r: (-r[4], -r[2], r[1]))
        state.update(
            (_json.dumps({t: d.to_state() for t, d in dgims.items()}),)
        )
        yield pd.DataFrame(
            rows,
            columns=["boundary", "token", "recent_count", "prev_count", "ratio"],
        )

    import pandas as pd

    return tok.groupBy("shard").applyInPandasWithState(
        detect,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def q_stream_snapshots(spark, sf_dir: str) -> DataFrame:
    """Driver-attested streaming twin (registry entry).

    Replays the documents table as a bounded ordered file stream
    (micro-batched), scores duplicates with the STATEFUL
    ``applyInPandasWithState`` shingle operator, drains it through a
    memory sink, and feeds the streamed flags into the same snapshot
    summary the batch path uses. Output schema and values equal
    q_doc_snapshots — its DuckDB oracle defines truth — so the driver's
    CORRECTNESS file now covers the live streaming topology, not just
    pytest (VERDICT r1 next-round item 6).
    """
    from bigdataminingproject_spark.operators.dedup import DUP_THRESHOLD
    from bigdataminingproject_spark.operators.snapshots import (
        snapshot_summary_from_flags,
        with_snapshot_position,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").cast("long").alias("msg_id"),
        F.col("text").alias("body"),
    )

    def body(twin):
        stream = twin.replay(src, "msg_id", chunks=10)
        hits = twin.memory(
            streaming_duplicate_scores(stream, msg_col="msg_id"), "append"
        )
        per_msg = hits.groupBy("msg_id").agg(
            F.round(F.avg(F.col("hit").cast("int")), 4).alias(
                "duplicate_score"
            )
        )
        flagged = (
            src.join(per_msg, "msg_id", "left")
            .withColumn(
                "is_duplicate",
                F.coalesce("duplicate_score", F.lit(0.0))
                >= F.lit(DUP_THRESHOLD),
            )
            .select("msg_id", "body", "is_duplicate")
        )
        return snapshot_summary_from_flags(
            with_snapshot_position(flagged, "msg_id"), text_col="body"
        ).orderBy("snapshot_id")

    return run_twin(spark, body)


def run_streaming_detector_pipeline(
    spark,
    stream_src: DataFrame,
    staging_dir: str,
    chunks: int = 10,
    update_interval: int = 100,
    top_frequency: int = 10,
    threshold: float = 0.7,
):
    """Live twin of plans/pipeline.run_detector_pipeline (Phase 4).

    Takes the bounded ordered stream (stream_pos, body), replays it in
    order through the *stateful streaming* duplicate scorer
    (applyInPandasWithState — state accumulates across micro-batches),
    then assembles the reference-shaped summary from the streamed
    outputs with the same snapshot operators. Produces results equal to
    the batch pipeline when replay order is preserved — asserted by
    tests/test_streaming.py equivalence.
    """
    from bigdataminingproject_spark.operators import snapshots as snap_ops
    from bigdataminingproject_spark.operators.frequency import top_k_tokens

    stream = file_replay_source(
        spark,
        stream_src.select(
            F.col("stream_pos").cast("long").alias("msg_id"), "body"
        ),
        staging_dir,
        chunks=chunks,
        order_col="msg_id",
    )
    hits = streaming_duplicate_scores(stream, msg_col="msg_id")
    name = f"dup_hits_{abs(hash(staging_dir)) % 10_000_000}"
    run_to_memory(hits, name, output_mode="append")
    per_msg = (
        spark.table(name)
        .groupBy("msg_id")
        .agg(F.round(F.avg(F.col("hit").cast("int")), 4).alias("duplicate_score"))
    )
    all_msgs = stream_src.select(
        F.col("stream_pos").cast("long").alias("msg_id"), "body"
    )
    scored = (
        all_msgs.join(per_msg, "msg_id", "left")
        .withColumn(
            "duplicate_score", F.coalesce("duplicate_score", F.lit(0.0))
        )
        .withColumn(
            "is_duplicate", F.col("duplicate_score") >= F.lit(threshold)
        )
        # four downstream actions (totals, snapshots, burst, top-k) share
        # this relation — persist so the replayed stream + join run once
        .persist()
    )
    totals = scored.agg(
        F.count(F.lit(1)).alias("processed"),
        F.sum(F.col("is_duplicate").cast("int")).alias("dups"),
        F.sum("duplicate_score").alias("score_sum"),
        F.min("msg_id").alias("pos_min"),
        F.max("msg_id").alias("pos_max"),
    ).first()
    processed = totals["processed"]
    dup_count = int(totals["dups"] or 0)
    # the snapshot counters read the STREAMED flags, never a batch
    # re-score; one ordered relation feeds snapshots and burst. An
    # already-dense stream is only shifted to start at 1.
    dense = (
        processed > 0
        and processed == totals["pos_max"] - totals["pos_min"] + 1
    )
    ordered = snap_ops.with_snapshot_position(
        scored,
        "msg_id",
        update_interval,
        dense_from=totals["pos_min"] if dense else None,
    ).persist()
    snapshot_rows = sorted(
        snap_ops.snapshot_summary_from_flags(ordered, text_col="body").collect(),
        key=lambda r: r["snapshot_id"],
    )
    burst_rows = sorted(
        snap_ops.burst_windows_from_ordered(ordered, text_col="body").collect(),
        key=snap_ops.burst_order,
    )
    final_top = {
        r["token"]: r["token_count"]
        for r in top_k_tokens(
            scored, k=top_frequency, text_col="body"
        ).collect()
    }
    ordered.unpersist()
    scored.unpersist()
    return {
        "processed": processed,
        "duplicates": {
            "total": dup_count,
            "rate": (dup_count / processed) if processed else 0.0,
            "avg_score": float(totals["score_sum"] or 0.0) / processed
            if processed
            else 0.0,
        },
        "periodic_snapshots": [
            {
                "message_count": r["message_count"],
                "duplicates_so_far": r["duplicates_so_far"],
            }
            for r in snapshot_rows
        ],
        "final_burst": [
            {
                "token": r["token"],
                "ratio": r["ratio"],
                "recent_count": r["recent_count"],
                "prev_count": r["prev_count"],
            }
            for r in burst_rows
            if r["boundary"] == max(b["boundary"] for b in burst_rows)
        ]
        if burst_rows
        else [],
        "final_top_tokens": final_top,
    }


def q_stream_hourly(spark, sf_dir: str) -> DataFrame:
    """Live event-time windowed aggregation twin (registry entry).

    Replays the events table as a micro-batched file stream and runs the
    canonical Structured Streaming shape — ``groupBy(window('ts', '1
    hour'), event_type)`` with a watermark — draining through a memory
    sink. Chunks are staged by event_id, NOT event time, so rows arrive
    out of event-time order across micro-batches and the stateful window
    aggregation must merge partials exactly (complete output mode: the
    bounded replay wants every window emitted at the end, not just those
    the watermark sealed mid-stream — append mode would hold back the
    final hour forever on a finite source).

    Output schema and values equal q_events_hourly, whose DuckDB oracle
    defines truth — the driver's CORRECTNESS file attests the live
    windowed-aggregation topology, complementing the stateful-dedup twin
    (q_stream_snapshots).
    """
    ev = load_table(spark, sf_dir, "events")
    src = ev.select("event_id", "ts", "event_type", "value")

    def body(twin):
        agg = (
            twin.replay(src, "event_id", chunks=10)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("event_count"),
                F.sum("value").alias("_v"),
            )
        )
        return (
            twin.memory(agg, "complete")
            .select(
                F.col("w.start").alias("event_hour"),
                "event_type",
                "event_count",
                F.round(F.col("_v"), 2).alias("total_value"),
            )
            .orderBy("event_hour", "event_type")
        )

    return run_twin(spark, body)


def q_stream_sessions(spark, sf_dir: str) -> DataFrame:
    """Live session-window twin of the batch gaps-and-islands
    sessionizer (registry entry) — the docstring of q_events_sessionize
    names this twin; this is it.

    Replays events as micro-batches and sessionizes with Structured
    Streaming's native ``session_window``. Two alignment moves make the
    equivalence EXACT rather than fixture-lucky:

    - timestamps are truncated to millisecond grain first (the batch
      path compares ``unix_millis`` values, so sub-ms components must
      not split/merge differently);
    - session_window's merge rule is INCLUSIVE (an event exactly at a
      window's end extends it, verified by the boundary pytest), which
      is already the batch ``diff <= gap`` rule — the gap transfers
      unchanged.

    The per-user session sequence is then numbered by window start over
    the (already session-collapsed) relation, landing on the batch
    query's exact output — same DuckDB oracle.

    Replay is staged in EVENT-TIME order (order_col='ts'), not id
    order: session_window runs in append mode, where the watermark
    DROPS input older than max(ts) - delay. Id-ordered replay is only
    time-ordered by fixture luck — the 10x scale replica (key-shifted
    copies that each span the full time range) replays months-late
    rows and silently lost 9/10 of the sessions (round-7 10x full-gate
    finding; fixed 2026-08-15). A real source delivers approximately
    time-ordered data with the watermark bounding the disorder —
    ts-ordered replay is that contract. q_stream_hourly deliberately
    keeps id-ordered replay: complete-mode aggregation ignores the
    watermark, and out-of-time-order merging is the thing it attests.
    """
    from pyspark.sql.window import Window

    from bigdataminingproject_spark.operators.events import SESSION_GAP_MS

    ev = load_table(spark, sf_dir, "events")
    src = ev.select("event_id", "ts", "user_id", "value")

    def body(twin):
        agg = (
            twin.replay(src, "ts", chunks=10)
            .withColumn("ts_m", F.timestamp_millis(F.unix_millis("ts")))
            .withWatermark("ts_m", "1 hour")
            .groupBy(
                F.session_window(
                    "ts_m", f"{SESSION_GAP_MS} milliseconds"
                ).alias("w"),
                "user_id",
            )
            .agg(
                F.count(F.lit(1)).alias("session_events"),
                F.min(F.unix_millis("ts_m")).alias("_start_ms"),
                F.max(F.unix_millis("ts_m")).alias("_end_ms"),
                F.sum("value").alias("_v"),
            )
        )
        seq = Window.partitionBy("user_id").orderBy("_start_ms")
        return (
            twin.memory(agg, "complete")
            .select(
                "user_id",
                "session_events",
                "_start_ms",
                (F.col("_end_ms") - F.col("_start_ms")).alias("duration_ms"),
                F.round(F.col("_v"), 2).alias("session_value"),
            )
            .withColumn("session_seq", F.row_number().over(seq).cast("long"))
            .select(
                "user_id",
                "session_seq",
                "session_events",
                "duration_ms",
                "session_value",
            )
            .orderBy("user_id", "session_seq")
        )

    return run_twin(spark, body)


def q_stream_hourly_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live incremental materialized-view maintenance twin (registry
    entry; VERDICT r4 #4) — the fourth Structured Streaming shape: a
    sink-side rollup upsert.

    Where q_stream_hourly keeps the hourly aggregate INSIDE the
    streaming engine's state store, this twin keeps it OUTSIDE, in a
    persisted parquet snapshot a ``foreachBatch`` sink maintains: each
    micro-batch folds its slice of the event log into the stored
    rollup via ``merge_hourly_rollup`` (operators/events.py) — the
    union-and-reaggregate merge whose exactness rests on (count, sum)
    being associative partials. This is the production pattern for
    rollups that outlive any one streaming query (downstream jobs read
    the table, the stream only maintains it), and it is exactly the
    batch incremental path (q_events_hourly_incremental) driven by a
    live source instead of a manual 80/20 split.

    Snapshot versions are written to per-batch directories (write-new,
    then-swap — a foreachBatch sink must never read and overwrite the
    same files in one batch); state size is bounded by the rollup
    cardinality (hours x types), never the log. Output lands on
    q_events_hourly's DuckDB oracle: same columns, same 2 dp
    presentation rounding applied only at the end (stored partials stay
    raw, so merges never compound rounding).
    """
    from bigdataminingproject_spark.operators.events import (
        finish_hourly_rollup,
        hourly_rollup_partial,
        merge_hourly_rollup,
    )

    ev = load_table(spark, sf_dir, "events")
    src = ev.select("event_id", "ts", "event_type", "value")

    def body(twin):
        latest: dict[str, str] = {}

        def upsert(batch_df, batch_id):
            delta = batch_df
            if latest:
                snapshot = spark.read.parquet(latest["path"])
                merged = merge_hourly_rollup(snapshot, delta)
            else:
                merged = hourly_rollup_partial(delta)
            out = twin.path(f"rollup_{batch_id}")
            merged.write.mode("overwrite").parquet(out)
            latest["path"] = out

        twin.sink(twin.replay(src, "event_id", chunks=10), upsert)
        return finish_hourly_rollup(spark.read.parquet(latest["path"]))

    return run_twin(spark, body)


def q_stream_curation_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live corpus-state upsert (VERDICT r5 #3) — the fifth Structured
    Streaming shape: the incremental curation merge driven by a real
    micro-batch stream instead of a manual one-shot 80/20 split.

    Crawl deltas arrive as ordered micro-batches (``file_replay_source``
    range-chunked on doc_id, matching crawl-order id monotonicity — the
    invariant ``curate_corpus_increment`` needs); a ``foreachBatch``
    sink folds each delta into an APPEND-ONLY state store: per batch it
    writes only the delta manifest rows plus their (doc_id, shingle_h)
    index rows, and reads state as the union of all prior parts
    (multi-path parquet). Nothing is ever rewritten — O(|delta|) I/O
    per batch instead of O(|state|) — and the persisted shingle index
    makes the PPJoin probe side a pure read (``state_shingles``), so a
    batch never re-tokenizes yesterday's corpus. That is exactly how a
    production crawl pipeline maintains a corpus manifest downstream
    training jobs read between crawls.

    Output and oracle are q_corpus_curation_incremental's: the final
    kept set (dropped_neardup == 0, is_new flag), checked against the
    DuckDB FULL v1 rerun over the whole table — a cross-engine proof
    that k successive micro-batch merges == one full-corpus rerun
    (the single-merge theorem applied inductively; each batch's ids
    exceed all prior state ids by replay order).

    Round 7 (VERDICT r6 #3): the raw ``manifest_parts`` /
    ``shingle_parts`` lists became :class:`AppendOnlyPartsStore`\\ s —
    the binary-counter LSM compaction bounds the live part count at
    O(log batches) while keeping amortized per-batch write I/O
    O(|delta| · log batches). ``merge_fanout=2`` so even this 4-batch
    replay exercises real merge-rewrites under the oracle gate;
    ``tools/compaction_probe.py`` measures the 16-batch wall-time curve.
    """
    from bigdataminingproject_spark.operators.dedup import shingle_relation
    from bigdataminingproject_spark.plans.curation import (
        _split_cutoff,
        curate_delta_state,
        materialized_shingles_dir,
        materialized_state_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    cutoff = _split_cutoff(docs)
    snap = docs.filter(F.col("doc_id") <= cutoff)
    delta = docs.filter(F.col("doc_id") > cutoff).select("doc_id", "text")
    day0_dir = materialized_state_dir(spark, sf_dir, snap, cutoff)
    day0_sh = materialized_shingles_dir(spark, day0_dir)

    def body(twin):
        manifest = twin.store("manifest")
        manifest.attach_protected(day0_dir)  # shared cache: never merged
        shingles = twin.store("shingles")
        shingles.attach_protected(day0_sh)

        def upsert(batch_df, batch_id):
            delta_state = curate_delta_state(
                manifest.read(), batch_df, state_shingles=shingles.read()
            )
            # derive runs on the rows as written (re-read is O(|delta|)),
            # before compaction can merge the part away
            manifest.append(
                delta_state,
                derive=lambda part: shingles.append(shingle_relation(part)),
            )

        twin.sink(twin.replay(delta, "doc_id"), upsert)
        return (
            manifest.read()
            .filter(F.col("dropped_neardup") == 0)
            .select(
                "doc_id",
                (F.col("doc_id") > cutoff).cast("int").alias("is_new"),
            )
            .orderBy("doc_id")
        )

    return run_twin(spark, body)


def q_stream_curation_v4_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live maintenance of the FULL v4 curation composition (VERDICT
    r6 #2) — decontam → domain cap → winnow clone prune → surprisal
    band → PII → SemDeDup → span rewrite — driven by a micro-batch
    crawl stream over LSM-compacted append-only state.

    Seven :class:`AppendOnlyPartsStore`\\ s hold the indices (per-doc
    stats, token counts, winnowing fingerprints, span manifest,
    span-hash set, 16-bit embedding cells, SemDeDup candidate log).
    Each ``foreachBatch`` upsert runs ``curation_v4_delta_signals``
    over ONLY the delta — the single text pass those docs ever pay —
    decides span first-occurrence against the persisted hash index and
    SemDeDup candidates against the persisted cell index (coarse-layout
    superset logging; see ``semantic_candidates``), and appends the
    results. Publish time re-derives the non-monotone scalar stages
    (cap rank, evolving-LM surprisal cut, survivor-relative clone df)
    from the indices alone via ``assemble_curation_v4``.

    Day 0 is the id-prefix snapshot processed through the SAME delta
    path (empty prior state); the stream replays the rest in 4
    id-ordered chunks. ``merge_fanout=2`` so the oracle-attested run
    exercises real LSM merges. Output and oracle are
    ``q_corpus_curation_v4``'s — the cross-engine proof that k
    incremental upserts == one full-corpus batch v4 rerun. Every
    upsert (day 0 included) appends a candidate part, so the
    candidate store is never empty at publish.
    """
    from bigdataminingproject_spark.operators.quality import (
        synthetic_pii_text,
    )
    from bigdataminingproject_spark.operators.similarity import (
        semantic_candidates,
        semantic_cells16,
        semantic_drops_from_candidates,
    )
    from bigdataminingproject_spark.plans.curation import (
        _split_cutoff,
        assemble_curation_v4,
        curation_v4_delta_signals,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    train = docs.filter(F.col("doc_id") % 25 != 0)
    vecs = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 25 != 0
    )
    cutoff = _split_cutoff(train)

    def body(twin):
        stores = {
            name: twin.store(name)
            for name in (
                "stats",
                "tokc",
                "fp",
                "span_stats",
                "span_h",
                "cells",
                "cands",
            )
        }
        n_cells = [0]  # running count of appended cell rows (disjoint parts)

        def upsert(batch_df, batch_id):
            sigs = curation_v4_delta_signals(
                batch_df,
                bench,
                redact_text=synthetic_pii_text(),
                span_seen=stores["span_h"].read(),
            )
            delta_cells = semantic_cells16(
                vecs.join(
                    batch_df.select(F.col("doc_id").alias("vec_id")),
                    "vec_id",
                    "left_semi",
                )
            )

            def log_candidates(part):
                prior = stores["cells"].read()  # excludes the in-flight part
                allc = part if prior is None else prior.unionByName(part)
                # Cell count so far = running total over the disjoint
                # parts (the old ``allc.count()`` re-listed and
                # re-footer-read EVERY part directory per batch);
                # counting only the just-written part is one
                # single-directory metadata job, and the sum is
                # identical because parts never overlap.
                n_cells[0] += part.count()
                stores["cands"].append(
                    semantic_candidates(allc, part, n_cells[0])
                )

            # The six index appends are independent jobs over disjoint
            # stores (cells chains cands through ``derive``; span_h's
            # append must also complete before the NEXT batch reads it,
            # which the pool barrier below guarantees). Submitting them
            # concurrently (one thread per append) lets each job's tail
            # back-fill the executors freed by the others (guide §2.6)
            # instead of paying six small-job latencies end to end;
            # every store is touched by exactly one thread, so the
            # stores' internal part lists never race, and the written
            # relations are bit-identical (measured 36.5 s -> 20.1 s at
            # sf0.1). Safe against compaction: every ``sigs`` plan was
            # eagerly localCheckpoint'ed off the span_h store by
            # curation_v4_delta_signals, so no thread's write job
            # re-reads part directories another thread's merge may
            # delete (ADVICE r10 #1).
            from concurrent.futures import ThreadPoolExecutor

            tasks = [
                lambda: stores["stats"].append(sigs["stats"]),
                lambda: stores["tokc"].append(sigs["tok_counts"]),
                lambda: stores["fp"].append(sigs["winnow_fp"]),
                lambda: stores["span_stats"].append(sigs["span_stats"]),
                lambda: stores["span_h"].append(sigs["span_kept_hashes"]),
                lambda: stores["cells"].append(
                    delta_cells, derive=log_candidates
                ),
            ]
            # propagate the first failure, keep the barrier
            with ThreadPoolExecutor(max_workers=6) as pool:
                for fut in [pool.submit(t) for t in tasks]:
                    fut.result()

        # day 0: the id-prefix snapshot through the same delta path
        upsert(train.filter(F.col("doc_id") <= cutoff), "day0")
        stream = twin.replay(
            train.filter(F.col("doc_id") > cutoff).select(
                "doc_id", "source", "text"
            ),
            "doc_id",
        )
        twin.sink(stream, upsert)
        # n_cells == cells.count(): appends are disjoint and the cells
        # store's compaction is a row-preserving union rewrite
        sem_drops = semantic_drops_from_candidates(
            stores["cands"].read(), n_cells[0]
        )
        return assemble_curation_v4(
            stores["stats"].read(),
            stores["tokc"].read(),
            stores["fp"].read(),
            sem_drops,
            stores["span_stats"].read(),
        )

    return run_twin(spark, body)


def q_stream_index_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live inverted-index maintenance over FOLDING LSM state — the
    retrieval-side sibling of the curation maintenance twins, and the
    query that exercises the state store's *merge-operator* mode.

    Each micro-batch builds ``inverted_index_partial`` over ONLY its
    delta docs (the single tokenize those docs ever pay) and appends
    the vocabulary-sized partial to an :class:`AppendOnlyPartsStore`
    whose ``merge_transform`` is ``fold_index_partials``: when the
    binary-counter compaction merges parts, it doesn't stack rows — it
    FOLDS the partial aggregates (df/cf sums, k-head posting merge,
    exact by k-head closure under disjoint corpus union), so every
    level stays vocabulary-sized instead of batches × vocabulary. This
    is the LSM merge-operator pattern (RocksDB merge operands,
    Cassandra counters) expressed relationally. Publish applies the
    same fold over the live tail plus the finish pass.

    ``merge_fanout=2`` so the 4-chunk oracle replay performs real
    folding merges under the gate. Output and oracle are
    ``q_doc_inverted_index``'s — k micro-batch partial folds must land
    exactly on the full-corpus rebuild.
    """
    from bigdataminingproject_spark.operators.retrieval import (
        finish_inverted_index,
        fold_index_partials,
        inverted_index_partial,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def body(twin):
        store = twin.store("index", fold_index_partials)

        def upsert(batch_df, batch_id):
            store.append(inverted_index_partial(batch_df))

        twin.sink(twin.replay(docs, "doc_id"), upsert)
        return finish_inverted_index(fold_index_partials(store.read()))

    return run_twin(spark, body)


def q_stream_hh_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live heavy-hitter maintenance — exact corpus heavy hitters
    (freq >= N/HH_S) kept continuously current as documents stream in.

    Each micro-batch tokenizes ONLY its delta docs into an exact
    (token, cnt) count partial (``token_count_partial``) and appends
    it to an :class:`AppendOnlyPartsStore` whose ``merge_transform``
    is ``fold_token_counts``: counts are closed under addition, so
    LSM compaction FOLDS partials instead of stacking them and every
    level stays delta-vocabulary-sized. Publish folds the live tail
    and applies the shared threshold (``finish_heavy_hitters``).

    State is vocabulary-bounded (like the inverted-index twin), never
    token-stream-bounded; the BATCH side (``q_doc_heavy_hitters``)
    goes further and avoids even the vocabulary shuffle via the
    two-pass Misra-Gries candidate plan — the streaming side cannot
    reuse that trick because an incremental publish needs exact counts
    for every token that might LATER cross the threshold. Output and
    oracle are ``q_doc_heavy_hitters``'s: k micro-batch folds must
    land exactly on the two-pass batch answer, which cross-checks the
    MG candidate superset proof against plain exact counting.
    """
    from bigdataminingproject_spark.operators.frequency import (
        finish_heavy_hitters,
        fold_token_counts,
        token_count_partial,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def body(twin):
        store = twin.store("hh", fold_token_counts)

        def upsert(batch_df, batch_id):
            store.append(token_count_partial(batch_df))

        # full-width chunks: per-batch tokenize keeps scan parallelism
        # (single-file chunks replay as one partition — see the
        # PageRank twin note below)
        twin.sink(twin.replay(docs, "doc_id", files_per_trigger=32), upsert)
        return finish_heavy_hitters(store.read())

    return run_twin(spark, body)


def q_stream_retention_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live cohort-retention maintenance — the product-analytics
    triangle kept continuously current as events stream in.

    The triangle's only corpus-sized intermediate is the distinct
    (user, week) presence relation — a SET, closed under
    distinct-union — so each micro-batch appends only its delta's
    presence pairs (``user_week_partial``) and LSM compaction folds
    them with ``fold_user_weeks`` (distinct, not stack): every level
    stays users x active-weeks, never event-count. Publish reruns the
    tiny cohort/offset/rate aggregation (``cohort_triangle_from_uw``)
    over the folded presence set.

    A user's cohort week can only move EARLIER as late data arrives
    (min over a growing set), which is exactly why the presence SET is
    the right maintained state: cohort assignment is derived at
    publish, never frozen into the store. Output and oracle are
    ``q_events_cohort_retention``'s.
    """
    from bigdataminingproject_spark.operators.events import (
        cohort_triangle_from_uw,
        fold_user_weeks,
        user_week_partial,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")

    def body(twin):
        store = twin.store("retention", fold_user_weeks)

        def upsert(batch_df, batch_id):
            store.append(user_week_partial(batch_df))

        twin.sink(twin.replay(ev, "ts", files_per_trigger=8), upsert)
        return cohort_triangle_from_uw(fold_user_weeks(store.read()))

    return run_twin(spark, body)


def q_stream_pagerank_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live PageRank maintenance — incremental GRAPH analytics over
    the LSM store: the token co-occurrence graph stays continuously
    current as documents stream in, and publish ranks it.

    The insight that makes iterative graph analytics maintainable
    incrementally is that the GRAPH is a sum: the edge relation is a
    count aggregate of bigrams, closed under addition, so each
    micro-batch appends only its delta's (bigram, c) partial
    (``bigram_count_partial``) and LSM compaction folds partials with
    ``fold_bigram_counts`` — every level stays graph-sized (adjacent-
    pair diversity), never corpus-sized. The power iteration itself is
    NOT incrementally maintained (rank is a global fixpoint; a delta
    perturbs every vertex), so publish reruns the batch iteration
    (``pagerank_from_bigram_counts``) over the folded graph — cheap
    because the graph, not the corpus, is its input.

    Output and oracle are ``q_token_pagerank``'s: the stream-built
    graph must land the walk on bit-identical doubles.
    """
    from bigdataminingproject_spark.operators.frequency import (
        bigram_count_partial,
        fold_bigram_counts,
        pagerank_from_bigram_counts,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def body(twin):
        store = twin.store("pr_edges", fold_bigram_counts)

        def upsert(batch_df, batch_id):
            store.append(bigram_count_partial(batch_df))

        # files_per_trigger=32: a single-file chunk replays as ONE
        # input partition, serializing the per-batch shingle+count onto
        # one core (the round-7 KMV pathology — measured 151.7 s vs
        # 23.8 s batch on the 10x replica); 8-way chunks still left the
        # 100x twin at 3.2x batch (225.7 s vs 70.5 s) because tokenize
        # dominates there and 8 of 32 cores carried it — full-width
        # chunks close that to scan parity, batch boundaries unchanged.
        twin.sink(twin.replay(docs, "doc_id", files_per_trigger=32), upsert)
        return pagerank_from_bigram_counts(
            fold_bigram_counts(store.read()), damping=0.85, iters=3, top_n=20
        )

    return run_twin(spark, body)


def q_stream_sample_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live weighted-sample maintenance — the sampling-side sibling of
    the curation/index maintenance twins: keep a per-source
    Efraimidis–Spirakis sample WITHOUT replacement continuously
    up-to-date as the corpus streams in.

    Each micro-batch scores ONLY its delta docs (the ES key is a pure
    function of the row, so arrival-time scores stay valid forever)
    and appends the per-source top-k survivors to an
    :class:`AppendOnlyPartsStore` whose ``merge_transform`` is
    ``fold_sample_partials``: compaction re-ranks and truncates instead
    of stacking, exact by top-k closure under disjoint union, so every
    LSM level is bounded at sources × k rows — the streaming reservoir
    pattern with deterministic keys in place of RNG state. Publish
    folds the live tail and attaches final ranks.

    Output and oracle are ``q_doc_weighted_sample``'s: k micro-batch
    folds must land exactly on the batch sample — which is what makes
    ES keys the RIGHT weighted-reservoir formulation for a distributed
    engine (an imperative A-Res reservoir's state depends on arrival
    order; this one's provably doesn't).
    """
    from bigdataminingproject_spark.operators.sampling import (
        finish_weighted_sample,
        fold_sample_partials,
        weighted_sample_partial,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )

    def body(twin):
        store = twin.store("sample", fold_sample_partials)

        def upsert(batch_df, batch_id):
            store.append(
                weighted_sample_partial(
                    batch_df,
                    F.greatest(F.lit(1), F.length("text")).cast("double"),
                )
            )

        twin.sink(twin.replay(docs, "doc_id"), upsert)
        return finish_weighted_sample(store.read()).orderBy("source", "rnk")

    return run_twin(spark, body)


def q_stream_covariance_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live covariance-matrix maintenance — the vector-analytics
    sibling of the maintenance twins: the full d x d covariance of the
    embedding corpus stays continuously current as vectors stream in.

    Each micro-batch folds ONLY its delta vectors into one (n, sums,
    gram) moment row (the vectorized mapInPandas partial of the batch
    operator) and appends it to an :class:`AppendOnlyPartsStore` whose
    ``merge_transform`` is ``fold_covariance_partials``: compaction
    collapses stacked moment rows into one by count + elementwise
    vector sums — the textbook mergeable-moments property — so every
    LSM level holds exactly ONE d^2+d+1-double row no matter how many
    batches fed it. This is the cheapest possible streaming state for
    exact covariance: O(d^2) bytes total, zero dependence on corpus
    size, no decay/approximation. Publish runs the shared covariance
    arithmetic over the live tail; the 6 dp round + negative-zero
    collapse absorb the summation-order difference vs the batch path,
    so the output lands exactly on ``q_embedding_covariance``'s oracle.
    """
    from bigdataminingproject_spark.operators.similarity import (
        covariance_partials,
        finish_covariance,
        fold_covariance_partials,
    )

    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )

    def body(twin):
        store = twin.store("moments", fold_covariance_partials)

        def upsert(batch_df, batch_id):
            store.append(covariance_partials(batch_df))

        twin.sink(twin.replay(vecs, "vec_id"), upsert)
        return finish_covariance(store.read()).orderBy("i", "j")

    return run_twin(spark, body)


def q_stream_kmv_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live KMV-sketch maintenance — the sketch-side sibling of the
    maintenance twins: the per-source bottom-k distinct-shingle sketch
    (and the cross-source overlap matrix it answers) stays continuously
    current as documents stream in.

    The stream is staged as the PRE-HASHED shingle relation
    (doc_id, source, h) — the crawl feed a production sketch consumes:
    tokenize + shingle + 48-bit hash run ONCE, at staging, with full
    scan parallelism (VERDICT r7 #3: the round-7 twin recomputed them
    per micro-batch through single-file chunks, so the whole transform
    ran on ONE core per batch — 492.8 s at 100x vs 28.1 s for its batch
    twin). Each micro-batch now only folds the per-source bottom-k of
    its delta's pre-hashed rows (8 staged files per chunk keep the
    per-batch scan parallel) and appends that partial to an
    :class:`AppendOnlyPartsStore` whose ``merge_transform`` is
    ``fold_kmv_partials``: compaction dedups, re-ranks and truncates
    instead of stacking — exact by bottom-k closure under union
    (bottom-k(A ∪ B) ⊆ bottom-k(A) ∪ bottom-k(B)) — so every LSM level
    is bounded at sources × k rows regardless of how many batches fed
    it. This is the streaming shape of every KMV/theta-sketch system:
    per-slice sketches merged associatively, never the raw sets.
    Publish folds the live tail and runs the pairwise set-operation
    estimators; output and oracle are ``q_source_kmv_overlap``'s — k
    micro-batch folds must land exactly on the batch sketch.
    """
    from bigdataminingproject_spark.functions.text import shingles
    from bigdataminingproject_spark.operators.kmv import (
        KMV_K,
        fold_kmv_partials,
        kmv_hash,
        kmv_pair_overlap,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    hashed = docs.select(
        "doc_id",
        "source",
        F.explode(shingles(tokenize(F.col("text")), 3)).alias("sh"),
    ).select("doc_id", "source", kmv_hash(F.col("sh")).alias("h"))

    def body(twin):
        store = twin.store("kmv", fold_kmv_partials)

        def upsert(batch_df, batch_id):
            store.append(
                fold_kmv_partials(batch_df.select("source", "h"), k=KMV_K)
            )

        twin.sink(twin.replay(hashed, "doc_id", files_per_trigger=8), upsert)
        sk = fold_kmv_partials(store.read(), k=KMV_K)
        return kmv_pair_overlap(sk, k=KMV_K).orderBy("source_a", "source_b")

    return run_twin(spark, body)


def q_stream_grid_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live grid-density maintenance — the clustering sibling of the
    maintenance twins: the dense-cell map (and the density clusters it
    defines) stays continuously current as events stream in.

    Each micro-batch quantizes ONLY its delta events to (xi, yi) cell
    counts and appends that partial to an :class:`AppendOnlyPartsStore`
    whose ``merge_transform`` sums counts per cell — the simplest
    mergeable state of all the twins (integer counters), so every LSM
    level is bounded by the OCCUPIED-GRID size regardless of how many
    batches or events fed it. Publish derives the count-aware minpts
    from the folded totals, cuts the dense set, and labels components —
    density work happens on the cell index, never on replayed points.
    Output and oracle are ``q_events_grid_clusters``'s: integer-exact by
    counter mergeability.
    """
    from bigdataminingproject_spark.operators.density import (
        fold_cell_partials,
        label_dense_cells,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )

    def body(twin):
        store = twin.store("cells", fold_cell_partials)

        def upsert(batch_df, batch_id):
            store.append(
                batch_df.select(
                    F.floor(F.hour("ts").cast("double") / F.lit(1.0)).alias(
                        "xi"
                    ),
                    F.floor(F.col("value") / F.lit(25.0)).alias("yi"),
                )
                .groupBy("xi", "yi")
                .agg(F.count(F.lit(1)).alias("pts"))
            )

        twin.sink(twin.replay(ev, "event_id"), upsert)
        cells = fold_cell_partials(store.read())
        return label_dense_cells(cells).orderBy("cluster_id", "cell_id")

    return run_twin(spark, body)


def q_stream_rollup_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live multi-grain continuous aggregate (round 8) — the
    hypertable-rollup shape as a maintenance twin: minute/hour/day
    rollups of event counts and value stay continuously current as
    events stream in (TimescaleDB continuous aggregates / Druid
    rollups, done as LSM-folded partials).

    Where ``q_stream_hourly_maintenance`` maintains ONE grain in a
    parquet snapshot it rewrites per batch, this twin maintains ALL
    grains in an :class:`AppendOnlyPartsStore`: each micro-batch runs
    the batch operator's own grouping-sets partial transform
    (``time_rollup_partials`` — one delta scan, one hash-agg for all
    grains) over ONLY its delta and appends UNROUNDED (count, sum)
    rows; ``fold_rollup_partials`` is the merge-operator, so every
    compacted level holds one row per rollup cell — state is bounded
    by bucket x key cardinality (the continuous-aggregate state), never
    by the event log. Publish folds the live tail and rounds — output
    and oracle are ``q_events_time_rollup``'s: (count, sum) partials
    are associative, so k micro-batch folds land exactly on the batch
    aggregate (the 2 dp presentation round absorbs double-summation
    association order, as in every counter twin).
    """
    from bigdataminingproject_spark.operators.events import (
        finish_rollup,
        fold_rollup_partials,
        time_rollup_partials,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )

    def body(twin):
        store = twin.store("rollup", fold_rollup_partials)

        def upsert(batch_df, batch_id):
            store.append(time_rollup_partials(batch_df))

        twin.sink(twin.replay(ev, "ts"), upsert)
        return finish_rollup(store.read()).orderBy("grain", "bucket_ts", "key")

    return run_twin(spark, body)


def q_stream_ann_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live ANN-index maintenance — the vector-search sibling of the
    maintenance twins: the deterministic-IVF index stays continuously
    queryable as embedding deltas stream in, and the crawl NEVER
    re-indexes.

    The enabling invariant is the count-INVARIANT cell code: each
    micro-batch assigns its delta vectors their full 16-plane sign
    code once at ingest (``SEM_CELL_MAX_PLANES`` — a map-only
    expression, no shuffle, O(|delta|) work), and any count-derived
    p-plane layout the growing corpus later needs is a pure bit-mask
    of the stored code (LSB-first ``cell_id`` ⇒ ``cell16 & (2^p-1)``).
    Batch re-indexing — the reason real vector stores rebuild IVF
    lists as data grows — is replaced by widening the query-time mask,
    the same arithmetic the batch operator's DuckDB oracle uses.

    State: one (vec_id, cell16, embedding) row per vector in an
    :class:`AppendOnlyPartsStore` (identity merge — parts are disjoint
    id-keyed index rows; compaction only bounds the part count, the
    LSM discipline). Publish derives p from the folded count, masks
    the persisted codes, and runs the SAME probe/score stage as the
    batch operator (``similarity.ivf_probe_score``) — so the output
    and oracle are ``q_knn_ivf_det``'s, and a hash match proves the
    incrementally-maintained index answers queries identically to one
    built from scratch."""
    from bigdataminingproject_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    planes16 = similarity.det_planes(64, similarity.SEM_CELL_MAX_PLANES)

    def body(twin):
        store = twin.store("annidx")

        def upsert(batch_df, batch_id):
            store.append(
                batch_df.select(
                    "vec_id",
                    similarity.cell_id(
                        similarity._as_double(F.col("embedding")), planes16
                    ).alias("cell16"),
                    "embedding",
                )
            )

        twin.sink(twin.replay(emb, "vec_id"), upsert)
        state = store.read()
        n = state.count()
        p = similarity.semantic_cell_planes(n)
        mask = F.lit((1 << p) - 1)
        assigned = state.select(
            F.col("vec_id").alias("neighbor_id"),
            similarity._as_double(F.col("embedding")).alias("vec"),
            F.col("cell16").bitwiseAND(mask).cast("int").alias("cell"),
        )
        q = state.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            similarity._as_double(F.col("embedding")).alias("q_vec"),
            F.col("cell16").bitwiseAND(mask).cast("int").alias("q_cell"),
        )
        return similarity.ivf_probe_score(
            assigned, q, p, similarity.auto_probe_radius(p), 10
        )

    return run_twin(spark, body)


def q_stream_delta_join_maintenance(spark, sf_dir: str) -> DataFrame:
    """Incrementally-maintained JOIN+aggregate — the bilinear delta
    rule of differential dataflow / DBSP (McSherry et al., CIDR'13;
    Budiu et al., VLDB'23): for insert-only relations O (orders) and
    C (customers) arriving interleaved on ONE stream,

        Delta(O |><| C) = dO |><| C_pre  UNION  O_pre |><| dC
                          UNION  dO |><| dC

    so each micro-batch's contribution to ``revenue by nation`` is
    computed from the DELTAS and the pre-batch state only — the full
    join is never recomputed, which is the entire point of maintaining
    a materialized view over a 100 TB fact stream. Per-batch work is
    |dO| + |dC| hash-join probes against the accumulated other side
    (at scale: a bucketed/indexed store) plus the delta-delta corner;
    the aggregate store holds one partial row per nation per level
    (merge fold = re-sum), so publish reads nation-cardinality state.

    The replay interleaves BOTH relations on one tagged stream with
    customers arriving throughout (arrival = 40*c_custkey spreads them
    across the o_orderkey space), so late-dimension rows genuinely
    exercise the ``O_pre |><| dC`` leg — the case a naive "enrich each
    order batch against a static dim" pipeline silently drops.

    Floats: partials hold full-precision sums; rounding to 2dp happens
    once at publish, where the quantum (5e-3) dwarfs the ~1e-5
    association-order error of re-summing per-batch partials (the
    hourly-rollup twin's argument)."""
    from functools import reduce

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    tagged = orders.select(
        F.col("o_orderkey").alias("arrival"),
        F.lit("O").alias("side"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("price"),
        F.lit(None).cast("int").alias("nationkey"),
    ).unionByName(
        cust.select(
            (F.col("c_custkey") * 40).alias("arrival"),
            F.lit("C").alias("side"),
            F.col("c_custkey").alias("custkey"),
            F.lit(None).cast("double").alias("price"),
            F.col("c_nationkey").alias("nationkey"),
        )
    )

    def fold_rev(df: DataFrame) -> DataFrame:
        return df.groupBy("nationkey").agg(
            F.sum("rev").alias("rev"),
            F.sum("n_orders").alias("n_orders"),
        )

    def body(twin):
        store_o = twin.store("oside")
        store_c = twin.store("cside")
        store_agg = twin.store("agg", fold_rev)

        def upsert(batch_df, batch_id):
            # pin the delta: downstream legs must not re-pull the source
            batch_df = batch_df.localCheckpoint(eager=True)
            d_o = batch_df.filter(F.col("side") == "O").select(
                "custkey", "price"
            )
            d_c = batch_df.filter(F.col("side") == "C").select(
                "custkey", "nationkey"
            )
            o_pre = store_o.read()
            c_pre = store_c.read()
            legs = [d_o.join(d_c, "custkey")]  # dO |><| dC
            if c_pre is not None:
                legs.append(d_o.join(c_pre, "custkey"))
            if o_pre is not None:
                legs.append(o_pre.join(d_c, "custkey"))
            pairs = reduce(
                lambda a, b: a.unionByName(b),
                [leg.select("nationkey", "price") for leg in legs],
            )
            partial = pairs.groupBy("nationkey").agg(
                F.sum("price").alias("rev"),
                F.count(F.lit(1)).alias("n_orders"),
            )
            # agg append EVALUATES the legs against the pre-batch part
            # paths BEFORE the side stores gain (and possibly compact
            # away) the delta parts
            store_agg.append(partial)
            store_o.append(d_o)
            store_c.append(d_c)

        twin.sink(twin.replay(tagged, "arrival"), upsert)
        return (
            fold_rev(store_agg.read())
            .select(
                F.col("nationkey").alias("c_nationkey"),
                F.round(F.col("rev"), 2).alias("revenue"),
                F.col("n_orders"),
            )
            .orderBy("c_nationkey")
        )

    return run_twin(spark, body)


def q_stream_zset_maintenance(spark, sf_dir: str) -> DataFrame:
    """Incremental join+aggregate under inserts AND deletes — the full
    differential-dataflow / DBSP Z-set generalization of
    :func:`q_stream_delta_join_maintenance`: every change is a row with
    an integer WEIGHT (+1 insert, -1 retraction), the bilinear rule's
    legs multiply weights (a pair's contribution is ``w_o * w_c``), and
    the aggregate accumulates ``sum(price*w)`` / ``sum(w)`` — so a
    retraction flows through the SAME code path as an insert and
    cancels exactly the pair contributions its insert created. This is
    the CDC shape: a 100 TB pipeline consuming a Debezium-style change
    feed (delete records carry the before-image, as here) maintains its
    joins without ever reprocessing the base relations.

    The replay retracts every order with ``o_orderkey % 10 == 3`` at
    arrival ``o_orderkey + max_orderkey + 1`` — strictly after its
    insert, landing in later chunks — so the maintained view must
    converge to the join of the NET relation (orders minus retracted).

    State bound: the order-side store's LSM merge CONSOLIDATES the
    Z-set (group by row identity, sum weights, drop zeros — the DBSP
    ``distinct``/consolidation operator as a merge-transform), so
    compacted state tracks LIVE rows only: a long CDC stream of
    insert+delete churn does not grow it. Aggregate state stays
    nation-cardinality per level; floats round once at publish."""
    from functools import reduce

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    max_ok = orders.agg(F.max("o_orderkey")).collect()[0][0]

    def o_rows(src, arrival, w):
        return src.select(
            arrival.alias("arrival"),
            F.lit("O").alias("side"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("price"),
            F.lit(None).cast("int").alias("nationkey"),
            # long up front: consolidation sums weights, and the LSM
            # multi-path read needs every part to agree on the type
            F.lit(w).cast("long").alias("w"),
        )

    tagged = reduce(
        lambda a, b: a.unionByName(b),
        [
            o_rows(orders, F.col("o_orderkey"), 1),
            # CDC delete with before-image, strictly after its insert
            o_rows(
                orders.filter(F.col("o_orderkey") % 10 == 3),
                F.col("o_orderkey") + F.lit(int(max_ok) + 1),
                -1,
            ),
            cust.select(
                (F.col("c_custkey") * 40).alias("arrival"),
                F.lit("C").alias("side"),
                F.lit(None).cast("long").alias("orderkey"),
                F.col("c_custkey").alias("custkey"),
                F.lit(None).cast("double").alias("price"),
                F.col("c_nationkey").alias("nationkey"),
                F.lit(1).cast("long").alias("w"),
            ),
        ],
    )

    def consolidate_o(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("orderkey", "custkey", "price")
            .agg(F.sum("w").alias("w"))
            .filter(F.col("w") != 0)
        )

    def consolidate_c(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("custkey", "nationkey")
            .agg(F.sum("w").alias("w"))
            .filter(F.col("w") != 0)
        )

    def fold_rev(df: DataFrame) -> DataFrame:
        return df.groupBy("nationkey").agg(
            F.sum("rev").alias("rev"),
            F.sum("n_orders").alias("n_orders"),
        )

    def body(twin):
        store_o = twin.store("ozset", consolidate_o)
        store_c = twin.store("czset", consolidate_c)
        store_agg = twin.store("agg", fold_rev)

        def upsert(batch_df, batch_id):
            batch_df = batch_df.localCheckpoint(eager=True)
            d_o = batch_df.filter(F.col("side") == "O").select(
                "orderkey", "custkey", "price", "w"
            )
            d_c = batch_df.filter(F.col("side") == "C").select(
                "custkey", "nationkey", "w"
            )
            o_pre = store_o.read()
            c_pre = store_c.read()

            def pair(o, c):
                return o.withColumnRenamed("w", "w_o").join(
                    c.withColumnRenamed("w", "w_c"), "custkey"
                ).select(
                    "nationkey",
                    "price",
                    (F.col("w_o") * F.col("w_c")).alias("w"),
                )

            legs = [pair(d_o, d_c)]
            if c_pre is not None:
                legs.append(pair(d_o, c_pre))
            if o_pre is not None:
                legs.append(pair(o_pre, d_c))
            pairs = reduce(lambda a, b: a.unionByName(b), legs)
            partial = pairs.groupBy("nationkey").agg(
                F.sum(F.col("price") * F.col("w")).alias("rev"),
                F.sum("w").alias("n_orders"),
            )
            store_agg.append(partial)
            store_o.append(d_o)
            store_c.append(d_c)

        twin.sink(twin.replay(tagged, "arrival"), upsert)
        return (
            fold_rev(store_agg.read())
            .select(
                F.col("nationkey").alias("c_nationkey"),
                F.round(F.col("rev"), 2).alias("revenue"),
                F.col("n_orders"),
            )
            .orderBy("c_nationkey")
        )

    return run_twin(spark, body)


def q_stream_join_size_maintenance(spark, sf_dir: str) -> DataFrame:
    """Continuously-maintained join-size statistics — the streaming
    twin of :func:`operators.sketches.cms_join_size`, and the second
    application of the COUNT-INVARIANT-STATE pattern the ANN twin
    introduced: the count-derived sketch width can't be known while
    the corpus is still growing, so each micro-batch appends CMS
    counter partials at the FIXED maximum precision
    (``bucket = hash % 2^CMS_JOIN_MAX_BITS``), and publish masks them
    down to the width the final counts derive — ``(hash % 2^24) % W ==
    hash % W`` whenever the power-of-two W divides 2^24, so the folded
    counters reproduce the direct width-W sketch EXACTLY and the twin
    shares the batch operator's oracle.

    State: depth x (occupied) 2^24 buckets per side per LSM level (fold =
    sum per (d, bucket) — mergeable like every CMS), plus the two
    key-frequency relations for the checked exact leg (key-cardinality,
    also sum-foldable). Per-batch work is O(|delta|) hashing plus
    bounded-keyspace aggregate appends; an optimizer consuming this
    state can price the join of two STILL-GROWING relations at any
    micro-batch boundary without scanning either. On empty inputs the
    side counts are 0, as the batch operator's ``count()`` gives, and
    the publish is the batch's one all-null row."""
    from bigdataminingproject_spark.operators.sketches import (
        CMS_JOIN_DEPTH,
        CMS_JOIN_MAX_BITS,
        cms_join_width,
        cms_relation,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    tagged = orders.select(
        F.col("o_orderkey").alias("arrival"),
        F.lit("O").alias("side"),
        F.col("o_custkey").alias("key"),
    ).unionByName(
        cust.select(
            (F.col("c_custkey") * 40).alias("arrival"),
            F.lit("C").alias("side"),
            F.col("c_custkey").alias("key"),
        )
    )

    def fold_cnt(df: DataFrame) -> DataFrame:
        return df.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))

    def fold_freq(df: DataFrame) -> DataFrame:
        return df.groupBy("k").agg(F.sum("cf").alias("cf"))

    max_w = 1 << CMS_JOIN_MAX_BITS

    def body(twin):
        stores = {
            side: (
                twin.store(f"cms_{side.lower()}", fold_cnt),
                twin.store(f"freq_{side.lower()}", fold_freq),
            )
            for side in ("O", "C")
        }

        def upsert(batch_df, batch_id):
            batch_df = batch_df.localCheckpoint(eager=True)
            for side, (cms_store, freq_store) in stores.items():
                delta = batch_df.filter(F.col("side") == side)
                cms_store.append(
                    cms_relation(delta, "key", CMS_JOIN_DEPTH, max_w)
                )
                freq_store.append(
                    delta.groupBy(F.col("key").cast("long").alias("k")).agg(
                        F.count(F.lit(1)).alias("cf")
                    )
                )

        twin.sink(twin.replay(tagged, "arrival"), upsert)
        freq_o = fold_freq(stores["O"][1].read()).localCheckpoint(eager=True)
        freq_c = fold_freq(stores["C"][1].read()).localCheckpoint(eager=True)
        n_o = freq_o.agg(F.sum("cf")).collect()[0][0] or 0
        n_c = freq_c.agg(F.sum("cf")).collect()[0][0] or 0
        width = cms_join_width(int(n_o), int(n_c))
        if width > max_w:
            raise ValueError(
                f"derived width {width} exceeds the stored "
                f"2^{CMS_JOIN_MAX_BITS} bucket precision; raise "
                "CMS_JOIN_MAX_BITS alongside the corpus"
            )

        def masked(store) -> DataFrame:
            return (
                fold_cnt(store.read())
                .select(
                    "d",
                    (F.col("bucket") % width).alias("bucket"),
                    "cnt",
                )
                .groupBy("d", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )

        sk_o = masked(stores["O"][0])
        sk_c = masked(stores["C"][0]).withColumnRenamed("cnt", "cnt_d")
        per_depth = (
            sk_o.join(sk_c, ["d", "bucket"])
            .groupBy("d")
            .agg(F.sum(F.col("cnt") * F.col("cnt_d")).alias("ip"))
        )
        est = per_depth.agg(F.min("ip").alias("est_rows"))
        exact = (
            freq_o.join(
                freq_c.withColumnRenamed("cf", "cd"), "k"
            ).agg(F.sum(F.col("cf") * F.col("cd")).alias("exact_rows"))
        )
        return est.crossJoin(exact).select(
            "est_rows",
            "exact_rows",
            F.round(
                (F.col("est_rows") - F.col("exact_rows"))
                * 100.0
                / F.col("exact_rows"),
                2,
            ).alias("overestimate_pct"),
        )

    return run_twin(spark, body)


def q_stream_dedup(spark, sf_dir: str) -> DataFrame:
    """Live watermarked stream deduplication (registry entry) — the
    sixth Structured Streaming shape: ``dropDuplicatesWithinWatermark``
    with BOUNDED dedup state.

    A plain streaming ``dropDuplicates`` keeps every key it has ever
    seen — state grows with the corpus, the unbounded-state bug class.
    The watermarked variant is the 100 TB form: dedup keys are
    event-time-scoped, so state for hour H is evicted once the
    watermark passes H + delay; an infinite stream holds only the
    trailing window of keys.

    The replayed stream is staged in event-time order (order_col='ts'),
    so no row is late and the within-watermark guarantee is total:
    the emitted (user_id, event_hour) first-sightings must equal the
    batch DISTINCT exactly. The published result is the RAW sink
    content — no batch-side distinct rescue — so a duplicate emission
    anywhere would fail the oracle's hash, which is the point.
    Output/oracle: distinct (user, hour) activity pairs
    (the per-user hourly presence relation DAU/WAU rollups consume).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )

    def body(twin):
        deduped = (
            twin.replay(ev, "ts", chunks=10)
            .select(
                "user_id",
                F.date_trunc("hour", "ts").alias("event_hour"),
                "ts",
            )
            .withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(["user_id", "event_hour"])
            .select("user_id", "event_hour")
        )
        return twin.memory(deduped, "append").orderBy("user_id", "event_hour")

    return run_twin(spark, body)


def q_stream_decay_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live decayed-counter maintenance — the feature-store sibling of
    the maintenance twins: every user's exponentially-decayed activity
    score stays continuously current as events stream in.

    Each micro-batch folds ONLY its delta events into one
    (base_us, sum_exp, last_us, n) row per user (the mergeable partial
    of ``time_decay_scores``) and appends it to an
    :class:`AppendOnlyPartsStore` whose ``merge_transform`` is
    ``fold_decay_partials``: compaction REBASES each partial's exp-sum
    onto the user's smallest base (multiply by exp(Δbase/τ) — the
    decayed-counter merge law) and sums, so every LSM level holds one
    4-number row per user no matter how many batches fed it. This is
    the classic streaming decayed counter done without approximation:
    the prefix factorization makes exact exponential decay mergeable,
    where an imperative EWMA's state depends on arrival order. Publish
    runs ``finish_decay`` over the live tail; the 6 dp round absorbs
    the association-order difference vs the batch window's cumulative
    sum, so output and oracle are ``q_events_decay_score``'s.
    """
    from bigdataminingproject_spark.operators.events import (
        decay_partials,
        finish_decay,
        fold_decay_partials,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )

    def body(twin):
        store = twin.store("decay", fold_decay_partials)

        def upsert(batch_df, batch_id):
            store.append(decay_partials(batch_df))

        twin.sink(twin.replay(ev, "event_id"), upsert)
        return finish_decay(store.read()).orderBy("user_id")

    return run_twin(spark, body)


def q_stream_join_attribution(spark, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (registry entry) — the
    fifth Structured Streaming shape: two live streams joined on key +
    event-time range.

    The batch temporal-join family (operators/temporal.py: asof / range
    / pit) answers "which clicks preceded this purchase?" offline; this
    twin answers it ONLINE: purchases and clicks replay as two
    independent micro-batched file streams, each carrying its own
    watermark, and Spark's stream-stream inner join buffers just enough
    of each side's state to emit every (purchase, prior-click-within-4
    -hours, same-user) pair. The time-range predicate plus the two
    watermarks is exactly what lets the engine BOUND that state: clicks
    older than ``watermark - 4 hours`` can never match a future
    purchase and are evicted — the 100 TB shape, where neither stream
    is ever materialized whole.

    Inner-join matches emit as soon as both rows are buffered (no
    watermark wait — only OUTER joins hold rows back), so draining both
    bounded replays yields the complete batch join; per-purchase
    aggregation then runs as a cheap batch step over the drained pairs
    (an unwindowed per-key aggregate is not append-expressible after a
    stream-stream join, and the join is the shape under test).

    Output: for every purchase with >= 1 prior click in the 4-hour window —
    ``(purchase_id, user_id, n_prior_clicks, click_value_cents)`` —
    integers only (exact-cents convention), same DuckDB oracle as a
    batch interval join over the events table.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )

    def body(twin):
        p_stream = twin.replay(purchases, "p_ts").withWatermark(
            "p_ts", "30 minutes"
        )
        c_stream = twin.replay(clicks, "c_ts").withWatermark(
            "c_ts", "30 minutes"
        )
        pairs = p_stream.join(
            c_stream,
            F.expr(
                "c_user = p_user"
                " AND c_ts <= p_ts"
                " AND c_ts > p_ts - INTERVAL 4 HOURS"
            ),
            "inner",
        )
        return (
            twin.memory(pairs, "append")
            .groupBy(F.col("purchase_id"), F.col("p_user").alias("user_id"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_prior_clicks"),
                F.sum(
                    F.floor(F.col("c_value") * F.lit(100) + F.lit(0.5))
                    .cast("long")
                )
                .cast("long")
                .alias("click_value_cents"),
            )
            .orderBy("purchase_id")
        )

    return run_twin(spark, body)


def q_stream_qdigest_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live q-digest quantile maintenance — the quantile sibling of the
    sketch-maintenance twins (KMV distincts, CMS join sizes): the value
    distribution's p25..p99 stays continuously answerable as events
    stream in, with state bounded by the FIXED-POINT DOMAIN rather than
    the event count.

    Each micro-batch quantizes ONLY its delta events into leaf counters
    (idx, c) over the 2^16-leaf dyadic domain and appends that partial
    to an :class:`AppendOnlyPartsStore` whose ``merge_transform`` sums
    counts per leaf (``qdigest.fold_leaf_partials``) — exact by counter
    additivity, so every LSM level stays <= 2^16 rows regardless of how
    many batches or events fed it. Publish is one plan: fold the live
    tail, run the batch operator's one-task compression sweep and its
    traversal (``qdigest_from_leaves`` / ``qdigest_quantiles``, which
    derive n and tau from the folded counters), and materialize the
    answer once, so k micro-batch folds land bit-exactly on the batch
    digest. Output and oracle are ``q_events_qdigest``'s.
    """
    from bigdataminingproject_spark.operators.qdigest import (
        QD_QS,
        fold_leaf_partials,
        qdigest_from_leaves,
        qdigest_quantiles,
        quantize_leaves,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")

    def body(twin):
        store = twin.store("leaves", fold_leaf_partials)

        def upsert(batch_df, batch_id):
            store.append(quantize_leaves(batch_df, "value"))

        twin.sink(twin.replay(ev, "event_id"), upsert)
        digest = qdigest_from_leaves(fold_leaf_partials(store.read()))
        return qdigest_quantiles(spark, digest, QD_QS)

    return run_twin(spark, body)


def q_stream_kcore_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live coreness maintenance — the graph sibling of the
    sketch-maintenance twins: the part co-purchase graph (and the
    k-core decomposition over it) stays continuously current as
    lineitem rows stream in.

    The mergeable state is the PAIR-COUNT relation, not the graph: each
    micro-batch joins ONLY its delta (order, part) baskets against
    themselves per order — deltas replayed by order chunks, so an
    order's items arrive together and the within-order pair join is
    delta-local — and appends (a, b, c) partial co-counts to an
    :class:`AppendOnlyPartsStore` whose ``merge_transform`` sums counts
    per pair. Counter additivity holds because distinct (order, part)
    baskets are disjoint across batches; every LSM level stays bounded
    by catalog adjacency (distinct co-purchased pairs), never the
    lineitem count. Publish folds the live tail, applies the
    MIN_CO_ORDERS floor, and runs the identical fixed-round H-index
    iteration as the batch operator — so the incrementally-maintained
    graph yields the bit-identical decomposition. Output and oracle are
    ``q_part_coreness``'s.
    """
    from bigdataminingproject_spark.operators.kcore import (
        MIN_CO_ORDERS,
        coreness_hindex,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )

    def body(twin):
        store = twin.store(
            "paircounts",
            lambda parts: parts.groupBy("a", "b").agg(F.sum("c").alias("c")),
        )

        def upsert(batch_df, batch_id):
            b = batch_df.select("o", "p").distinct()
            pairs = (
                b.select("o", F.col("p").alias("a"))
                .join(b.select("o", F.col("p").alias("b")), "o")
                .filter(F.col("a") < F.col("b"))
                .groupBy("a", "b")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            store.append(pairs)

        twin.sink(twin.replay(li, "o"), upsert)
        edges = (
            store.read()
            .groupBy("a", "b")
            .agg(F.sum("c").alias("c"))
            .filter(F.col("c") >= MIN_CO_ORDERS)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        return (
            coreness_hindex(edges)
            .select(
                F.col("v").alias("part_key"),
                F.col("coreness").cast("bigint").alias("coreness"),
            )
            .orderBy(F.desc("coreness"), "part_key")
        )

    return run_twin(spark, body)


def q_stream_bfs_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live BFS hop-distance maintenance — the first twin in the repo
    whose PUBLISH is a pure state read: nothing is recomputed at the
    end because the view itself (not its inputs) is what each batch
    maintains.

    The co-purchase graph under streaming lineitem is INSERT-ONLY —
    pair co-counts only grow, so an edge that crosses the
    MIN_CO_ORDERS floor stays crossed — which makes multi-source hop
    distance a *monotone* view: new edges can only shorten distances.
    That admits the classic delta-relaxation rule (incremental BFS /
    insert-only Bellman-Ford) instead of recompute:

      1. append the batch's delta pair counts to the LSM store (the
         kcore twin's mergeable state, summed at compaction);
      2. probe the pre-append state for ONLY the delta's pairs' old
         totals (counts are insert-only, so only delta pairs can
         cross) → the edges that newly crossed the floor; the full
         edge set is maintained as previous ∪ crossed (disjoint);
      3. seed a relaxation frontier from those edges' settled
         endpoints, then propagate improvements through the FULL edge
         relation until quiescent — provably ≤ max_hops rounds,
         because every improvement chain's hop values strictly
         increase along it and are capped at BFS_MAX_HOPS.

    Per-batch cost tracks the DELTA's blast radius (newly-crossed
    edges + the vertices they improve), not corpus or state size; the
    settled relation is vertex-bounded. Convergence to the exact batch
    BFS is the insert-only shortest-path invariant: relaxation to
    fixpoint after every insert leaves dist = capped shortest distance
    on the edges so far, so after the last batch the state IS
    ``q_part_hop_distance``'s answer. Output and oracle are its.
    """
    from bigdataminingproject_spark.operators.graph import (
        bfs_relax_inserts,
        seed_parts,
    )
    from bigdataminingproject_spark.operators.kcore import MIN_CO_ORDERS

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    part = load_table(spark, sf_dir, "part")

    def body(twin):
        store = twin.store(
            "paircounts",
            lambda parts: parts.groupBy("a", "b").agg(F.sum("c").alias("c")),
        )
        # maintained view state (vertex-bounded), seeded before any
        # batch: all seed parts at hop 0 — exactly bfs_hops'
        # initialization
        view = {
            "dist": seed_parts(part)
            .select("v", F.lit(0).alias("hops"))
            .distinct()
            .localCheckpoint(eager=True),
            "edges": None,  # previous batch's floor-crossed edge set
        }

        def upsert(batch_df, batch_id):
            b = batch_df.select("o", "p").distinct()
            pairs = (
                b.select("o", F.col("p").alias("a"))
                .join(b.select("o", F.col("p").alias("b")), "o")
                .filter(F.col("a") < F.col("b"))
                .groupBy("a", "b")
                .agg(F.count(F.lit(1)).alias("c"))
                .persist()
            )
            # Newly floor-crossed edges from a DELTA-BOUNDED probe:
            # counts only grow, so only pairs IN this delta can cross —
            # probe the pre-append state for just those pairs' totals
            # (left-semi = shuffle is delta-sized; the full-state
            # groupBy + eager checkpoint + anti-join the round-10 plan
            # paid per batch was O(state), contradicting the contract
            # above). Materialized eagerly BEFORE the append so no live
            # plan re-reads part directories the append's compaction
            # may delete.
            prior = store.read()
            if prior is None:
                crossed = pairs.filter(F.col("c") >= MIN_CO_ORDERS)
            else:
                # broadcast the DELTA side (guide §3.1/§3.2: ship the
                # small side, never shuffle the growing state): the
                # semi-join probe then scans state in place with no
                # exchange, and only the delta-matched totals shuffle
                # into the groupBy
                old_tot = (
                    prior.join(
                        F.broadcast(pairs.select("a", "b")),
                        ["a", "b"],
                        "left_semi",
                    )
                    .groupBy("a", "b")
                    .agg(F.sum("c").alias("oc"))
                )
                oc = F.coalesce(F.col("oc"), F.lit(0))
                crossed = (
                    pairs.join(F.broadcast(old_tot), ["a", "b"], "left")
                    .filter(
                        (oc < MIN_CO_ORDERS)
                        & (oc + F.col("c") >= MIN_CO_ORDERS)
                    )
                )
            crossed = crossed.select("a", "b").localCheckpoint(eager=True)
            store.append(pairs)
            pairs.unpersist()
            # full current edge set = previous ∪ crossed (disjoint:
            # crossed pairs were below the floor, so never already
            # edges) — exactly the old full-fold-filter relation,
            # maintained incrementally
            prev = view["edges"]
            edges = (
                crossed
                if prev is None
                else prev.unionAll(crossed).localCheckpoint(eager=True)
            )
            view["edges"] = edges
            view["dist"] = bfs_relax_inserts(view["dist"], crossed, edges)

        twin.sink(twin.replay(li, "o"), upsert)
        # publish = the maintained view itself — no recompute
        return (
            view["dist"]
            .select(
                F.col("v").alias("part_key"),
                F.col("hops").cast("int").alias("hops"),
            )
            .orderBy("hops", "part_key")
        )

    return run_twin(spark, body)


def q_stream_expectations_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live data-quality contract — the release gate
    (``q_orders_expectations``) maintained continuously as orders
    stream in, extending the IVM family from statistics to QA.

    Two mergeable state relations in one LSM store root:

      * ``scalars`` — a one-row additive partial per batch (integer
        counts + one min, ``expectations.orders_scalar_partial``);
        compaction folds stacked rows by addition/min, so every level
        holds exactly one row no matter how many batches fed it;
      * ``keys`` — (orderkey, c) counters for the uniqueness metric;
        level size tracks the KEY DOMAIN (the honest cost of an exact
        distinct over a stream — the KMV twin is the sketch
        alternative when the domain itself is too big).

    Publish rebuilds the report from folded counters
    (``orders_report_from_counters``) — bit-identical to the batch
    query because every metric is the same pinned 6-dp quotient of
    the same exact integers. Output and oracle are
    ``q_orders_expectations``'s.
    """
    from bigdataminingproject_spark.operators.expectations import (
        fold_scalar_partials,
        orders_report_from_counters,
        orders_scalar_partial,
    )

    orders = load_table(spark, sf_dir, "orders")

    def body(twin):
        scalar_store = twin.store("scalars", fold_scalar_partials)
        key_store = twin.store(
            "keys",
            lambda parts: parts.groupBy("k").agg(F.sum("c").alias("c")),
        )

        def upsert(batch_df, batch_id):
            # two independent appends over disjoint stores (one thread
            # each, guide §2.6): the second job's tasks back-fill the
            # first's tail instead of paying two job latencies end to end
            from concurrent.futures import ThreadPoolExecutor

            tasks = [
                lambda: scalar_store.append(orders_scalar_partial(batch_df)),
                lambda: key_store.append(
                    batch_df.groupBy(
                        F.col("o_orderkey").alias("k")
                    ).agg(F.count(F.lit(1)).alias("c"))
                ),
            ]
            with ThreadPoolExecutor(max_workers=2) as pool:
                for fut in [pool.submit(t) for t in tasks]:
                    fut.result()

        twin.sink(twin.replay(orders, "o_orderkey"), upsert)
        scalars = fold_scalar_partials(scalar_store.read())
        nd = (
            key_store.read()
            .groupBy("k")
            .agg(F.sum("c").alias("c"))
            .agg(F.count(F.lit(1)).alias("nd"))
        )
        return orders_report_from_counters(scalars, nd)

    return run_twin(spark, body)


def q_stream_regression_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live per-group OLS trend maintenance — the regression member of
    the incremental-view-maintenance family: each event type's
    slope/intercept/r² over the full history stays continuously
    current as events stream in.

    Sufficient statistics are the textbook mergeable state: each
    micro-batch folds ONLY its delta events into one
    (k, n, Σx, Σy, Σx², Σxy, Σy²) row per group
    (``trends.regression_partials``) and appends it to an
    :class:`AppendOnlyPartsStore` whose ``merge_transform`` is
    ``fold_regression_partials`` — compaction collapses stacked
    partials by per-key integer addition, so every LSM level holds
    exactly one 7-number row per group no matter how many batches fed
    it. All sums are EXACT bigints (pinned-epoch hour index × integer
    cents), so publish — ``finish_regression`` over the folded live
    tail — lands bit-for-bit on ``q_events_linear_trend``'s DuckDB
    oracle with no tolerance and no decay.
    """
    from bigdataminingproject_spark.operators.trends import (
        finish_regression,
        fold_regression_partials,
        regression_partials,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )

    def body(twin):
        store = twin.store("regression", fold_regression_partials)

        def upsert(batch_df, batch_id):
            store.append(regression_partials(batch_df))

        twin.sink(twin.replay(ev, "event_id"), upsert)
        return finish_regression(
            fold_regression_partials(store.read())
        ).orderBy("event_type")

    return run_twin(spark, body)


def q_stream_hist_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live equi-depth-histogram maintenance — the optimizer-statistics
    member of the IVM family: the exact 8-bucket value histogram stays
    continuously current as events stream in.

    State is the exact distribution in COUNTER FORM: each micro-batch
    folds its delta into (v, c) rows (``histogram.value_counters``)
    appended to an :class:`AppendOnlyPartsStore` whose
    ``merge_transform`` is ``fold_value_counters`` — compaction
    collapses by per-value addition, so every LSM level is bounded by
    the value DOMAIN (2-dp metric scale), not the corpus. Publish
    rebuilds boundaries and bucket counts exactly from the folded
    counters (``equidepth_from_counters`` — the pinned selection rank
    rule over a cumulative walk on the bounded state), so the output
    lands bit-for-bit on ``q_events_equidepth_hist``'s oracle. This is
    how a warehouse keeps its scan statistics fresh without re-scanning
    history: O(|delta|) per batch, O(domain) state, zero approximation.
    """
    from bigdataminingproject_spark.operators.histogram import (
        HIST_BUCKETS,
        equidepth_from_counters,
        fold_value_counters,
        value_counters,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")

    def body(twin):
        store = twin.store("hist", fold_value_counters)

        def upsert(batch_df, batch_id):
            store.append(value_counters(batch_df, "value"))

        twin.sink(twin.replay(ev, "event_id"), upsert)
        return equidepth_from_counters(
            fold_value_counters(store.read()), HIST_BUCKETS
        ).orderBy("bucket")

    return run_twin(spark, body)


def q_stream_mi_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live mutual-information maintenance — the dependence-profiling
    member of the IVM family: MI(event type; hour-of-day) stays
    continuously current as events stream in.

    State is the exact contingency table: each micro-batch folds its
    delta into (x, y, nxy) cells (``profiling.contingency_cells``)
    appended to an :class:`AppendOnlyPartsStore` whose
    ``merge_transform`` is ``fold_contingency_cells`` — per-cell
    integer addition bounds every LSM level at |X|·|Y| rows. Publish
    runs the shared information fold (``mi_from_cells``) over the
    folded live tail; counts are exact, the 6 dp round absorbs the
    ln-sum association order, so the output lands on
    ``q_events_mi``'s oracle.
    """
    from bigdataminingproject_spark.operators.profiling import (
        contingency_cells,
        fold_contingency_cells,
        mi_from_cells,
    )
    from bigdataminingproject_spark.operators.trends import hour_index

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )

    def body(twin):
        store = twin.store("mi", fold_contingency_cells)

        def upsert(batch_df, batch_id):
            store.append(
                contingency_cells(
                    batch_df, F.col("event_type"), hour_index() % F.lit(24)
                )
            )

        twin.sink(twin.replay(ev, "event_id"), upsert)
        return mi_from_cells(fold_contingency_cells(store.read()))

    return run_twin(spark, body)


def q_stream_itemsim_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live item-item recommender maintenance — the bilinear-delta
    member applied to a PRODUCT surface: every part's top-k cosine
    neighbors stay continuously current as order lines stream in.

    Pair counts are NOT a per-row aggregate — a basket's pairs span
    arrival batches — so the twin maintains them by the delta-join
    rule the Z-set/DBSP twins established:

      Δpairs = (Δitems ⋈ old items of the same order) ∪ C(Δitems, 2)

    with Δitems first anti-joined against the item state so replayed
    duplicates can never double-count. Three LSM stores carry the
    view: the (order, item) relation (the join state the delta rule
    probes — read per batch FILTERED to the delta's orders), additive
    pair-count partials, and additive item marginals; compaction folds
    the latter two by per-key integer addition. Publish feeds the
    folded counts through the SAME scoring tail as the batch operator
    (recommend.cosine_topk_from_counts — one sqrt+divide of exact
    integers per surviving pair), so the output lands bit-for-bit on
    ``q_part_itemsim``'s oracle.

    The item join state is PARTITIONED by an order-range bucket
    (o // ITEMSIM_ORDER_BUCKET_W, VERDICT r9 #5): the per-batch
    probes filter on the delta's bucket span, so parquet directory
    pruning bounds each probe's I/O by the delta's order footprint
    instead of the state size. Order-keyed streams arrive roughly
    key-clustered (this replay is rid-ordered, so a batch's orders
    are one contiguous range and only the chunk-boundary bucket
    overlaps existing state); a scattered delta degrades gracefully
    to the old full-scan probe, never to wrong answers — the bucket
    filter is derived from the delta itself and is a superset of its
    orders by construction.
    """
    from bigdataminingproject_spark.operators.recommend import (
        SIM_MIN_CO,
        SIM_TOP_K,
        cosine_topk_from_counts,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("rid"),
        F.col("l_orderkey").alias("o"),
        F.col("l_partkey").alias("p"),
    )
    # orders per state bucket: coarse enough that a part's directory
    # fan-out stays in the tens-to-hundreds at 100x (file listing is
    # the hidden cost of a partitioned store — a fine-grained layout
    # multiplies every read's discovery work), fine enough that the
    # chunk-boundary probe still skips ~all of the state
    bucket_w = 262144

    def body(twin):
        items = twin.store(
            "items",
            # state rows are (o, ps[], bkt) — each part holds only the
            # items NEW to that batch for each order, so parts need no
            # dedup at compaction (read-side probes fold per-order
            # arrays themselves); repartition-by-bucket consolidates
            # files
            lambda df: df.repartition("bkt"),
            fanout=4,
            partition_col="bkt",
        )
        pairs = twin.store(
            "pairs",
            lambda df: df.groupBy("a", "b").agg(F.sum("c").alias("c")),
            fanout=4,
        )
        margs = twin.store(
            "margs",
            lambda df: df.groupBy("p").agg(F.sum("c").alias("c")),
            fanout=4,
        )

        def upsert(batch_df, batch_id):
            # ONE shuffle per batch: group the raw lines into per-order
            # item-set ARRAYS (collect_set = exact within-batch dedup).
            # Everything else — replay dedup, cross-batch pair probes,
            # pair enumeration — happens JVM-side on those arrays, so
            # the old plan's distinct + anti-join + localCheckpoint
            # chain (two more full shuffles and a full materialization
            # per batch) is gone entirely. The order-range probe rides
            # the SAME job that materializes the persisted arrays (one
            # scan of the delta per batch, not two).
            base = (
                batch_df.select("o", "p")
                .groupBy("o")
                .agg(F.collect_set("p").alias("ps"))
                .persist()
            )
            rng = base.agg(
                F.min("o").alias("lo"), F.max("o").alias("hi")
            ).collect()[0]
            old = items.read()
            if old is not None and rng["lo"] is not None:
                # the delta's order-range bucket span bounds the state
                # probe: the bkt filter prunes state DIRECTORIES, the o
                # range prunes row groups — both are supersets of the
                # delta's orders, so the join semantics are unchanged
                boundary = (
                    old.filter(
                        F.col("bkt").between(
                            int(rng["lo"]) // bucket_w,
                            int(rng["hi"]) // bucket_w,
                        )
                        & F.col("o").between(int(rng["lo"]), int(rng["hi"]))
                    )
                    # an order's items may sit in several parts (one per
                    # batch that extended it) — fold them per order
                    .groupBy("o")
                    .agg(F.flatten(F.collect_list("ps")).alias("ps_old"))
                )
                joined = base.join(boundary, "o", "left")
            else:
                joined = base.withColumn(
                    "ps_old", F.lit(None).cast("array<bigint>")
                )
            arrs = (
                joined.select(
                    "o",
                    # replay/cross-batch dedup: only items NOT already in
                    # state count as this batch's delta for their order
                    F.array_except(
                        "ps", F.coalesce("ps_old", F.array())
                    ).alias("new"),
                    F.coalesce("ps_old", F.array()).alias("olds"),
                )
                .filter(F.size("new") > 0)
                .persist()
            )
            # Δpairs = C(new, 2) ∪ (new x old items of the same order) —
            # enumerated inside array transforms (whole-stage codegen,
            # no self-join); new ∩ olds = ∅ by construction so no a=b
            # guard
            pair_arrays = arrs.select(
                F.explode(
                    F.concat(
                        F.expr(
                            "flatten(transform(new, (x, i) -> "
                            "transform(slice(new, i + 2, size(new)), y -> "
                            "struct(least(x, y) AS a, greatest(x, y) AS b))))"
                        ),
                        F.expr(
                            "flatten(transform(new, x -> transform(olds, "
                            "y -> struct(least(x, y) AS a, "
                            "greatest(x, y) AS b))))"
                        ),
                    )
                ).alias("pr")
            ).select("pr.a", "pr.b")
            # Materialize the deduped arrays ONCE (count over the cached
            # relation), then submit the three independent store
            # appends concurrently (guide §2.6, the v4 twin's pattern):
            # each store is touched by exactly one thread and every
            # append only reads the already-cached ``arrs``, so the
            # written relations are bit-identical while the three small
            # write jobs' tails overlap instead of paying three job
            # latencies end to end.
            arrs.count()
            from concurrent.futures import ThreadPoolExecutor

            tasks = [
                lambda: pairs.append(
                    pair_arrays.groupBy("a", "b").agg(
                        F.count(F.lit(1)).alias("c")
                    )
                ),
                lambda: margs.append(
                    arrs.select(F.explode("new").alias("p"))
                    .groupBy("p")
                    .agg(F.count(F.lit(1)).alias("c"))
                ),
                # the per-order array part is small (orders, not items)
                # — coalesce before the partitioned write so the file
                # fan-out is (8 x buckets-in-range), not (shuffle-parts
                # x buckets)
                lambda: items.append(
                    arrs.select(
                        "o",
                        F.col("new").alias("ps"),
                        (F.col("o") / bucket_w).cast("int").alias("bkt"),
                    ).coalesce(8)
                ),
            ]
            with ThreadPoolExecutor(max_workers=3) as pool:
                for fut in [pool.submit(t) for t in tasks]:
                    fut.result()
            arrs.unpersist()
            base.unpersist()

        twin.sink(twin.replay(li, "rid"), upsert)
        co = (
            pairs.read()
            .groupBy("a", "b")
            .agg(F.sum("c").alias("co_count"))
            .filter(F.col("co_count") >= SIM_MIN_CO)
        )
        n = margs.read().groupBy("p").agg(F.sum("c").alias("n_orders"))
        return cosine_topk_from_counts(co, n, SIM_TOP_K).orderBy(
            "item", "rank"
        )

    return run_twin(spark, body)


def q_stream_psi_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live drift-monitor maintenance — PSI per event type stays
    continuously current as events stream in.

    State is the exact per-(group, window-half, value) counter
    relation (``profiling.psi_value_counters``) — domain-bounded like
    the histogram twin's state, closed under per-key addition
    (``fold_psi_counters`` at LSM compaction). Publish rebuilds the
    reference deciles from the pooled ref counters with the SAME
    pinned rank rule (cumulative walk over bounded state), re-buckets
    both halves by the weighted flag-sum, and runs the shared
    smoothing/fold arithmetic — landing bit-for-bit on
    ``q_events_psi_drift``'s oracle. This is how a feature store keeps
    its drift dashboards fresh without re-scanning history.
    """
    from bigdataminingproject_spark.operators.profiling import (
        fold_psi_counters,
        psi_from_counters,
        psi_value_counters,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )

    def body(twin):
        store = twin.store("psi", fold_psi_counters)

        def upsert(batch_df, batch_id):
            store.append(psi_value_counters(batch_df))

        twin.sink(twin.replay(ev, "event_id"), upsert)
        return psi_from_counters(fold_psi_counters(store.read())).orderBy(
            "event_type"
        )

    return run_twin(spark, body)


def q_stream_chi2_maintenance(spark, sf_dir: str) -> DataFrame:
    """Live chi-square independence maintenance — shares the MI twin's
    contingency-cell state discipline (|X|·|Y| additive counters in
    the LSM store); publish runs the shared single-sum identity
    (``profiling.chi_square``) over the folded live tail, landing on
    ``q_events_chi2``'s oracle. One cell relation can serve every
    information metric (MI, NMI, chi-square, Cramér's V) at once."""
    from bigdataminingproject_spark.operators.profiling import (
        chi_square,
        contingency_cells,
        fold_contingency_cells,
    )
    from bigdataminingproject_spark.operators.trends import hour_index

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )

    def body(twin):
        store = twin.store("chi2", fold_contingency_cells)

        def upsert(batch_df, batch_id):
            store.append(
                contingency_cells(
                    batch_df, F.col("event_type"), hour_index() % F.lit(24)
                )
            )

        twin.sink(twin.replay(ev, "event_id"), upsert)
        return chi_square(fold_contingency_cells(store.read()))

    return run_twin(spark, body)
