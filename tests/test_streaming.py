"""Structured Streaming twins: bounded replay via availableNow, results
compared against the equivalent batch plans."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from bigdataminingproject_spark.operators.events import (
    q_events_decay_score,
    q_events_hourly,
    q_events_sessionize,
)
from bigdataminingproject_spark.operators.recommend import q_part_itemsim
from bigdataminingproject_spark.operators.sketches import q_join_size_estimate
from bigdataminingproject_spark.operators.snapshots import q_doc_snapshots
from bigdataminingproject_spark.plans.curation import (
    q_corpus_curation_incremental,
)
from bigdataminingproject_spark.sources.tables import load_table
from bigdataminingproject_spark.streaming import pipeline
from bigdataminingproject_spark.streaming.pipeline import (
    run_to_memory,
    snapshot_sink,
    streaming_duplicate_scores,
    streaming_event_counts,
    streaming_exact_dedup,
)
from bigdataminingproject_spark.streaming.replay import file_replay_source


def test_streaming_event_counts_match_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    stream = file_replay_source(
        spark, events, str(tmp_path / "stage"), chunks=5, files_per_trigger=2
    )
    # replay chunks are not time-ordered, so use a watermark wider than
    # the full event-time span — otherwise late chunks are (correctly)
    # dropped by event-time eviction
    counts = streaming_event_counts(stream, watermark="60 days")
    run_to_memory(counts, "ev_counts", output_mode="update")
    got = (
        spark.table("ev_counts")
        .groupBy("window_start", "event_type")
        .agg(F.max("event_count").alias("event_count"))  # last update wins
    )
    expect = events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("event_count"))
    diff = got.join(
        expect, ["window_start", "event_type"], "full"
    ).filter(got.event_count != expect.event_count)
    assert expect.count() == got.count()
    assert diff.count() == 0


def test_multi_file_chunks_preserve_batch_boundaries(spark, tmp_path):
    """files_per_trigger > 1 (round 8): each chunk stages as N
    range-contiguous files and one trigger consumes exactly N — so a
    micro-batch gets N-way scan parallelism while batch boundaries and
    replay order are IDENTICAL to single-file chunks (the KMV twin's
    100x fix rests on this contract)."""
    from bigdataminingproject_spark.streaming.pipeline import snapshot_sink

    df = spark.createDataFrame([(i,) for i in range(120)], "pos long")
    stream = file_replay_source(
        spark,
        df,
        str(tmp_path / "mfc"),
        chunks=3,
        files_per_trigger=4,
        order_col="pos",
    )
    batches = []
    snapshot_sink(
        stream,
        lambda b, bid: batches.append(
            sorted(r["pos"] for r in b.collect())
        ),
    )
    assert len(batches) == 3
    flat = [p for b in batches for p in b]
    assert flat == list(range(120))  # order preserved across batches
    for b in batches:  # each batch is one contiguous order_col range
        assert b == list(range(b[0], b[-1] + 1))


def test_streaming_exact_dedup_first_wins(spark, tmp_path):
    rows = [(i, "same   TEXT here" if i % 2 == 0 else f"unique {i}") for i in range(20)]
    df = spark.createDataFrame(rows, "msg_id long, body string")
    stream = file_replay_source(
        spark, df, str(tmp_path / "stage2"), chunks=4, files_per_trigger=1
    )
    deduped = streaming_exact_dedup(stream)
    run_to_memory(deduped, "dedup_out", output_mode="append")
    out = spark.table("dedup_out")
    # 10 unique bodies + 1 shared normalized fingerprint
    assert out.count() == 11
    assert out.select("fingerprint").distinct().count() == 11


def test_streaming_duplicate_scores_state_across_batches(spark, tmp_path):
    # one conversation repeated in a later file ⇒ hits must come from
    # cross-batch state
    rows = [(1, "alpha beta gamma delta"), (2, "totally different text body")]
    rows += [(3, "alpha beta gamma delta")]  # exact repeat, later message
    df = spark.createDataFrame(rows, "msg_id long, body string")
    stream = file_replay_source(
        spark,
        df,
        str(tmp_path / "stage3"),
        chunks=3,
        files_per_trigger=1,
        order_col="msg_id",
    )
    hits = streaming_duplicate_scores(stream)
    run_to_memory(hits, "dup_hits", output_mode="append")
    per_msg = (
        spark.table("dup_hits")
        .groupBy("msg_id")
        .agg(F.avg(F.col("hit").cast("int")).alias("score"))
        .collect()
    )
    scores = {r["msg_id"]: r["score"] for r in per_msg}
    assert scores[1] == 0.0  # first occurrence never self-flags
    assert scores[2] == 0.0
    assert scores[3] == 1.0  # full overlap with message 1


def test_snapshot_sink_runs_per_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").limit(100)
    stream = file_replay_source(
        spark, events, str(tmp_path / "stage4"), chunks=4, files_per_trigger=1
    )
    seen: list[tuple[int, int]] = []

    def capture(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    snapshot_sink(stream, capture)
    assert sum(n for _, n in seen) == 100
    assert len(seen) >= 2  # genuinely incremental (multiple triggers)


def test_streaming_pipeline_equals_batch_pipeline(spark, tmp_path):
    """The live stateful pipeline must reproduce the batch pipeline's
    summary exactly when replay order is preserved."""
    from bigdataminingproject_spark.plans.pipeline import run_detector_pipeline
    from bigdataminingproject_spark.streaming.pipeline import (
        run_streaming_detector_pipeline,
    )

    rows = []
    pos = 1
    for i in range(60):
        rows.append((pos, "repeated filler body text"))
        pos += 1
    for i in range(60):
        body = "different second phase"
        if i >= 45:
            body += " hotword"
        rows.append((pos, body))
        pos += 1
    src = spark.createDataFrame(rows, "stream_pos long, body string")

    batch = run_detector_pipeline(src, update_interval=50)
    live = run_streaming_detector_pipeline(
        spark, src, str(tmp_path / "live_stage"), chunks=6, update_interval=50
    )
    assert live["processed"] == batch["processed"]
    assert live["duplicates"] == batch["duplicates"]
    assert live["final_top_tokens"] == batch["final_top_tokens"]
    live_snaps = [
        (s["message_count"], s["duplicates_so_far"])
        for s in live["periodic_snapshots"]
    ]
    batch_snaps = [
        (s["message_count"], s["duplicates_so_far"])
        for s in batch["periodic_snapshots"]
    ]
    assert live_snaps == batch_snaps


def test_streaming_pipeline_snapshots_use_streamed_flags(
    spark, tmp_path, rebind
):
    """The twin's ``duplicates_so_far`` comes from the stateful streamed
    flags: with the batch scorer disabled it still counts every
    duplicate."""
    from bigdataminingproject_spark.streaming.pipeline import (
        run_streaming_detector_pipeline,
    )

    def refuse(original):
        def raising(*args, **kwargs):
            raise AssertionError("streaming twin called the batch scorer")

        return raising

    rebind(
        "bigdataminingproject_spark.operators.dedup",
        "duplicate_scores",
        refuse,
    )
    numbered = _count_global_positions(rebind)
    live = run_streaming_detector_pipeline(
        spark,
        _two_phase_stream(spark, 1),
        str(tmp_path / "flags_stage"),
        chunks=3,
        update_interval=50,
    )
    assert live["duplicates"]["total"] == 117
    assert [
        (s["message_count"], s["duplicates_so_far"])
        for s in live["periodic_snapshots"]
    ] == [(50, 49), (100, 98), (120, 117)]
    # the stream is dense, so it is shifted to start at 1, not renumbered
    assert numbered == [0]


def test_streaming_pipeline_renumbers_gapped_positions(
    spark, tmp_path, rebind
):
    """Positions with gaps (every position times 3) go through one
    global numbering pass and give the dense stream's snapshots."""
    from bigdataminingproject_spark.streaming.pipeline import (
        run_streaming_detector_pipeline,
    )

    numbered = _count_global_positions(rebind)
    live = run_streaming_detector_pipeline(
        spark,
        _two_phase_stream(spark, 3),
        str(tmp_path / "gapped_stage"),
        chunks=3,
        update_interval=50,
    )
    assert live["duplicates"]["total"] == 117
    assert [
        (s["message_count"], s["duplicates_so_far"])
        for s in live["periodic_snapshots"]
    ] == [(50, 49), (100, 98), (120, 117)]
    assert numbered == [1]


def _two_phase_stream(spark, step):
    """60 exact repeats (59 duplicates), then 60 one-shingle repeats whose
    46th message adds a fresh shingle (score 0.5, kept): 59 + 58 = 117
    duplicates, at positions ``step``, ``2 * step``, ..."""
    rows = [(pos, "repeated filler body text") for pos in range(1, 61)]
    rows += [
        (60 + i, "different second phase" + (" hotword" if i >= 46 else ""))
        for i in range(1, 61)
    ]
    return spark.createDataFrame(
        [(pos * step, body) for pos, body in rows],
        "stream_pos long, body string",
    )


def _count_global_positions(rebind):
    """A one-element list counting ``with_global_position`` calls for the
    rest of the test."""
    numbered = [0]

    def counting(original):
        def counted(*args, **kwargs):
            numbered[0] += 1
            return original(*args, **kwargs)

        return counted

    rebind(
        "bigdataminingproject_spark.plans.ordering",
        "with_global_position",
        counting,
    )
    return numbered


def test_streaming_token_counts_match_batch(spark, tmp_path):
    from bigdataminingproject_spark.functions.text import (
        remove_stopwords,
        tokenize,
    )
    from bigdataminingproject_spark.streaming.pipeline import (
        streaming_token_counts,
    )

    rows = [
        (i, f"2024-01-01 0{i % 5}:10:00", "alpha beta the gamma")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, ts_s string, body string").select(
        "id", F.col("ts_s").cast("timestamp").alias("ts"), "body"
    )
    stream = file_replay_source(spark, df, str(tmp_path / "tokstage"), chunks=4)
    counts = streaming_token_counts(stream, watermark="7 days")
    run_to_memory(counts, "tok_counts", output_mode="update")
    got = (
        spark.table("tok_counts")
        .groupBy("window_start", "token")
        .agg(F.max("token_count").alias("token_count"))
    )
    toks = remove_stopwords(tokenize(F.col("body")))
    expect = (
        df.select(F.date_trunc("hour", "ts").alias("window_start"),
                  F.explode(toks).alias("token"))
        .groupBy("window_start", "token")
        .agg(F.count(F.lit(1)).alias("token_count"))
    )
    assert got.count() == expect.count()
    diff = got.join(expect, ["window_start", "token"]).filter(
        got.token_count != expect.token_count
    )
    assert diff.count() == 0
    # stopword 'the' never appears
    assert got.filter(F.col("token") == "the").count() == 0


def test_streaming_minute_counts_match_batch_rollup(spark, sf_dir, tmp_path):
    """The streaming windowed aggregate at minute grain must agree with
    the batch hypertable rollup's finest grain — the continuous-aggregate
    contract: a live query and a backfill produce the same table."""
    from bigdataminingproject_spark.operators.events import time_rollup

    events = load_table(spark, sf_dir, "events")
    stream = file_replay_source(
        spark, events, str(tmp_path / "stage_ru"), chunks=4, files_per_trigger=2
    )
    counts = streaming_event_counts(
        stream, window="1 minute", watermark="60 days"
    )
    run_to_memory(counts, "minute_counts", output_mode="update")
    got = (
        spark.table("minute_counts")
        .groupBy("window_start", "event_type")
        .agg(F.max("event_count").alias("event_count"))  # last update wins
    )
    expect = (
        time_rollup(events, grains=("minute",))
        .select(
            F.col("bucket_ts").alias("window_start"),
            F.col("key").alias("event_type"),
            "event_count",
        )
    )
    diff = got.join(
        expect, ["window_start", "event_type"], "full"
    ).filter(got.event_count != expect.event_count)
    assert expect.count() == got.count()
    assert diff.count() == 0


def test_tws_duplicate_scores_matches_groupstate_twin(spark, tmp_path):
    """transformWithStateInPandas twin must reproduce the GroupState
    operator's exact hit set across batches (cross-batch state, RocksDB
    provider). Skip-gated: the TWS state protocol needs google.protobuf,
    absent in this container (documented boundary in the operator)."""
    pytest.importorskip("google.protobuf")
    from bigdataminingproject_spark.streaming.pipeline import (
        streaming_duplicate_scores_tws,
    )

    rows = [(1, "alpha beta gamma delta"), (2, "totally different text body")]
    rows += [(3, "alpha beta gamma delta")]
    df = spark.createDataFrame(rows, "msg_id long, body string")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = file_replay_source(
            spark,
            df,
            str(tmp_path / "tws_stage"),
            chunks=3,
            files_per_trigger=1,
            order_col="msg_id",
        )
        hits = streaming_duplicate_scores_tws(stream)
        run_to_memory(hits, "tws_hits", output_mode="append")
        got = {
            (r["shingle"], r["msg_id"], r["hit"])
            for r in spark.table("tws_hits").collect()
        }
        stream2 = file_replay_source(
            spark,
            df,
            str(tmp_path / "gs_stage"),
            chunks=3,
            files_per_trigger=1,
            order_col="msg_id",
        )
        run_to_memory(
            streaming_duplicate_scores(stream2), "gs_hits",
            output_mode="append",
        )
        want = {
            (r["shingle"], r["msg_id"], r["hit"])
            for r in spark.table("gs_hits").collect()
        }
        assert got == want and got  # identical, non-empty
        per_msg = {}
        for _, m, h in got:
            per_msg.setdefault(m, []).append(h)
        assert all(not any(per_msg[m]) for m in (1, 2))
        assert all(per_msg[3])  # full cross-batch overlap flagged
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_score_shingle_batch_kernel():
    """The shared stateful-scoring kernel (used by both the GroupState
    and TWS operators) — pure-Python, so it tests the TWS body even
    where protobuf blocks TWS execution."""
    from bigdataminingproject_spark.streaming.pipeline import (
        _score_shingle_batch,
    )

    # fresh shingle, one message repeating it: no self-hit
    assert _score_shingle_batch("s", False, [7, 7]) == [
        ("s", 7, False), ("s", 7, False),
    ]
    # second message in the same batch hits
    assert _score_shingle_batch("s", False, [8, 7]) == [
        ("s", 7, False), ("s", 8, True),
    ]
    # state says seen: everything hits
    assert _score_shingle_batch("s", True, [9]) == [("s", 9, True)]
    assert _score_shingle_batch("s", False, []) == []


def test_tws_processor_direct_drive_with_fake_state():
    """Drive ShingleSeenProcessor.handleInputRows directly — the
    processor CLASS, not just its shared kernel — with a fake value-
    state handle, so the init/exists/get/update contract is exercised
    without the protobuf runtime TWS needs to execute on Spark."""
    import pandas as pd

    from bigdataminingproject_spark.streaming.pipeline import (
        ShingleSeenProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

    proc = ShingleSeenProcessor()
    handle = FakeHandle()
    proc.init(handle)

    def drive(msg_ids):
        (out,) = list(
            proc.handleInputRows(
                ("sh",), [pd.DataFrame({"msg_id": msg_ids})], None
            )
        )
        return [tuple(r) for r in out.itertuples(index=False)]

    # batch 1: fresh shingle — first msg no hit, second msg hits in-batch
    assert drive([5, 6]) == [("sh", 5, False), ("sh", 6, True)]
    # state persisted: batch 2 is all hits
    assert handle.states["seen"].get() == (True,)
    assert drive([7]) == [("sh", 7, True)]
    # empty batch: no output, state untouched
    assert drive([]) == []
    assert handle.states["seen"].get() == (True,)
    proc.close()


def test_tws_processor_empty_batch_leaves_state_unset():
    """An empty first batch must NOT mark the shingle as seen."""
    import pandas as pd

    from bigdataminingproject_spark.streaming.pipeline import (
        ShingleSeenProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    class FakeHandle:
        def getValueState(self, name, schema):
            self.state = FakeValueState()
            return self.state

    proc = ShingleSeenProcessor()
    handle = FakeHandle()
    proc.init(handle)
    list(proc.handleInputRows(("sh",), [pd.DataFrame({"msg_id": []})], None))
    assert not handle.state.exists()
    # a later real batch then sees "unseen" semantics
    (out,) = list(
        proc.handleInputRows(("sh",), [pd.DataFrame({"msg_id": [1]})], None)
    )
    assert [tuple(r) for r in out.itertuples(index=False)] == [("sh", 1, False)]


def test_stream_hourly_equals_batch_hourly(spark, sf_dir):
    """The live windowed-aggregation registry twin lands exactly on the
    batch hourly rollup despite out-of-event-time-order micro-batches."""
    from bigdataminingproject_spark.operators.events import q_events_hourly
    from bigdataminingproject_spark.streaming.pipeline import (
        q_stream_hourly,
    )

    batch = [tuple(r) for r in q_events_hourly(spark, sf_dir).collect()]
    live = [tuple(r) for r in q_stream_hourly(spark, sf_dir).collect()]
    assert live == batch


def test_stream_sessions_equals_batch_sessionize(spark, sf_dir):
    """The native session_window twin reproduces the batch
    gaps-and-islands sessionizer exactly (ms-grain alignment; the
    inclusive session_window merge rule equals the batch <= rule)."""
    from bigdataminingproject_spark.operators.events import (
        q_events_sessionize,
    )
    from bigdataminingproject_spark.streaming.pipeline import (
        q_stream_sessions,
    )

    batch = [tuple(r) for r in q_events_sessionize(spark, sf_dir).collect()]
    live = [tuple(r) for r in q_stream_sessions(spark, sf_dir).collect()]
    assert live == batch


def test_stream_sessions_gap_boundary_semantics(spark, tmp_path):
    """Events exactly SESSION_GAP_MS apart stay in ONE session (the
    batch <= rule), one ms beyond splits — pinning session_window's
    inclusive merge boundary."""
    import datetime

    from bigdataminingproject_spark.operators.events import SESSION_GAP_MS
    from bigdataminingproject_spark.streaming.pipeline import run_to_memory
    from bigdataminingproject_spark.streaming.replay import (
        file_replay_source,
    )
    from pyspark.sql import functions as F

    t0 = datetime.datetime(2024, 1, 1)
    gap = datetime.timedelta(milliseconds=SESSION_GAP_MS)
    ms = datetime.timedelta(milliseconds=1)
    rows = [
        (1, t0, 7, 0.0),
        (2, t0 + gap, 7, 0.0),                 # exactly gap -> same
        (3, t0 + gap + gap + ms, 7, 0.0),      # gap+1ms later -> new
    ]
    src = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    stream = file_replay_source(
        spark, src, str(tmp_path / "s"), chunks=2, order_col="event_id"
    )
    agg = (
        stream.withColumn("ts_m", F.timestamp_millis(F.unix_millis("ts")))
        .withWatermark("ts_m", "1 hour")
        .groupBy(
            F.session_window(
                "ts_m", f"{SESSION_GAP_MS} milliseconds"
            ),
            "user_id",
        )
        .count()
    )
    run_to_memory(agg, "gap_boundary_t", output_mode="complete")
    counts = sorted(
        r["count"] for r in spark.table("gap_boundary_t").collect()
    )
    assert counts == [1, 2]


def test_stream_hourly_maintenance_equals_batch_hourly(spark, sf_dir):
    """The foreachBatch sink-side rollup-maintenance twin lands exactly
    on the batch hourly rollup: ten micro-batch upserts of raw (count,
    sum) partials merge to the full recompute, with presentation
    rounding applied only once at the end."""
    from bigdataminingproject_spark.operators.events import q_events_hourly
    from bigdataminingproject_spark.streaming.pipeline import (
        q_stream_hourly_maintenance,
    )

    batch = [tuple(r) for r in q_events_hourly(spark, sf_dir).collect()]
    live = [
        tuple(r) for r in q_stream_hourly_maintenance(spark, sf_dir).collect()
    ]
    assert live == batch


def test_stream_rollup_maintenance_equals_batch_rollup(spark, sf_dir):
    """The multi-grain continuous-aggregate twin (round 8) lands
    exactly on the batch minute/hour/day rollup: per-batch unrounded
    (count, sum) partials from the SAME grouping-sets transform fold
    associatively through the LSM store, with presentation rounding
    applied only once at publish."""
    from bigdataminingproject_spark.operators.events import (
        q_events_time_rollup,
    )
    from bigdataminingproject_spark.streaming.pipeline import (
        q_stream_rollup_maintenance,
    )

    batch = [
        tuple(r) for r in q_events_time_rollup(spark, sf_dir).collect()
    ]
    live = [
        tuple(r)
        for r in q_stream_rollup_maintenance(spark, sf_dir).collect()
    ]
    assert live == batch


def test_stream_join_attribution_equals_batch_interval_join(spark, sf_dir):
    """The watermarked stream-stream interval join, drained over the
    bounded replay, lands exactly on the batch interval join (inner
    matches emit as soon as both sides are buffered; eviction only
    removes rows the watermark proves unmatchable)."""
    from pyspark.sql import functions as F

    from bigdataminingproject_spark.sources.tables import load_table
    from bigdataminingproject_spark.streaming.pipeline import (
        q_stream_join_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value"),
    )
    batch = (
        p.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 4 HOURS")),
        )
        .groupBy("purchase_id", "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_prior_clicks"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("click_value_cents"),
        )
        .orderBy("purchase_id")
    )
    live = [tuple(r) for r in q_stream_join_attribution(spark, sf_dir).collect()]
    assert live == [tuple(r) for r in batch.collect()]
    assert len(live) > 0


def test_stream_dedup_emits_exactly_distinct(spark):
    """dropDuplicatesWithinWatermark over the ts-ordered replay must
    emit each (user, hour) exactly once — the published result is the
    raw sink content, so this asserts no duplicate emission AND no
    missed key vs the batch DISTINCT."""
    from bigdataminingproject_spark.sources.tables import load_table
    from bigdataminingproject_spark.streaming.pipeline import (
        q_stream_dedup,
    )
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    live = [
        (r["user_id"], r["event_hour"])
        for r in q_stream_dedup(spark, sf_dir).collect()
    ]
    assert len(live) == len(set(live))  # no duplicate emission
    batch = {
        (r["user_id"], r["h"])
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("hour", "ts").alias("h"))
        .distinct()
        .collect()
    }
    assert set(live) == batch


def test_stream_ann_twin_lands_on_batch(spark):
    """The incrementally-maintained ANN index must answer the probe
    queries identically to a scratch build (q_knn_ivf_det): persisted
    16-plane codes masked to the count-derived layout reproduce the
    batch cell assignment bit-for-bit."""
    from bigdataminingproject_spark.operators.similarity import (
        q_knn_ivf_det,
    )
    from bigdataminingproject_spark.streaming.pipeline import (
        q_stream_ann_maintenance,
    )

    sf_dir = "/root/testdata/sf0.001"
    batch = sorted(
        tuple(r) for r in q_knn_ivf_det(spark, sf_dir).collect()
    )
    live = sorted(
        tuple(r)
        for r in q_stream_ann_maintenance(spark, sf_dir).collect()
    )
    assert live == batch
    assert len(live) > 0


def test_stream_ann_codes_are_count_invariant(spark):
    """The maintenance twin's enabling invariant: a vector's stored
    16-plane code masked to p bits equals the p-plane cell_id the
    batch operator computes — for every p the count-derived layout
    can choose."""
    from pyspark.sql import functions as F

    from bigdataminingproject_spark.operators.similarity import (
        SEM_CELL_MAX_PLANES,
        _as_double,
        cell_id,
        det_planes,
    )
    from bigdataminingproject_spark.sources.tables import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    planes16 = det_planes(64, SEM_CELL_MAX_PLANES)
    for p in (6, 9, 12):
        planes_p = det_planes(64, p)
        bad = (
            vecs.select(
                cell_id(_as_double(F.col("embedding")), planes16)
                .bitwiseAND(F.lit((1 << p) - 1))
                .alias("masked"),
                cell_id(_as_double(F.col("embedding")), planes_p).alias(
                    "direct"
                ),
            )
            .filter(F.col("masked") != F.col("direct"))
            .count()
        )
        assert bad == 0


def test_stream_delta_join_lands_on_batch(spark):
    """The bilinear delta rule's per-batch contributions must
    partition the full join exactly: folded partials = batch
    join+aggregate (counts integer-exact; sums land after the
    publish-time round)."""
    from pyspark.sql import functions as F

    from bigdataminingproject_spark.sources.tables import load_table
    from bigdataminingproject_spark.streaming.pipeline import (
        q_stream_delta_join_maintenance,
    )

    sf_dir = "/root/testdata/sf0.001"
    live = {
        r["c_nationkey"]: (r["revenue"], r["n_orders"])
        for r in q_stream_delta_join_maintenance(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    batch = {
        r["c_nationkey"]: (r["revenue"], r["n_orders"])
        for r in orders.join(
            cust, orders.o_custkey == cust.c_custkey
        )
        .groupBy("c_nationkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .collect()
    }
    assert set(live) == set(batch)
    for k in batch:
        assert live[k][1] == batch[k][1]  # counts integer-exact
        assert abs(live[k][0] - batch[k][0]) < 0.02


def test_stream_delta_join_exercises_all_three_legs(spark):
    """The interleaved replay must genuinely produce work for every
    term of the bilinear rule — orders before their customer (O_pre
    |><| dC), customers before their orders (dO |><| C_pre), and
    same-batch pairs (dO |><| dC). With 4 range chunks over the
    interleaved arrival axis, customer c arrives in the chunk holding
    arrival 40c while its orders spread across all chunks — verify the
    replay layout actually splits them."""
    from pyspark.sql import functions as F

    from bigdataminingproject_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    max_arr = orders.agg(F.max("o_orderkey")).collect()[0][0]
    chunk = lambda a: min(3, int(a * 4 / (max_arr + 1)))  # noqa: E731
    o_chunks = {
        (r["o_custkey"], chunk(r["o_orderkey"]))
        for r in orders.collect()
    }
    c_chunk = {
        r["c_custkey"]: chunk(r["c_custkey"] * 40)
        for r in cust.collect()
    }
    before = sum(
        1 for ck, och in o_chunks if och < c_chunk.get(ck, 99)
    )
    after = sum(
        1 for ck, och in o_chunks if och > c_chunk.get(ck, -1)
    )
    same = sum(
        1 for ck, och in o_chunks if och == c_chunk.get(ck)
    )
    assert before > 0  # O_pre |><| dC leg
    assert after > 0  # dO |><| C_pre leg
    assert same > 0  # dO |><| dC leg


def test_stream_zset_lands_on_net_batch(spark):
    """Weighted cancellation must remove exactly the retracted orders'
    contributions: the maintained view equals the batch join+aggregate
    over the NET relation (orders minus o_orderkey % 10 == 3)."""
    from pyspark.sql import functions as F

    from bigdataminingproject_spark.sources.tables import load_table
    from bigdataminingproject_spark.streaming.pipeline import (
        q_stream_zset_maintenance,
    )

    sf_dir = "/root/testdata/sf0.001"
    live = {
        r["c_nationkey"]: (r["revenue"], r["n_orders"])
        for r in q_stream_zset_maintenance(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 != 3
    )
    cust = load_table(spark, sf_dir, "customer")
    batch = {
        r["c_nationkey"]: (r["revenue"], r["n_orders"])
        for r in orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .collect()
    }
    assert set(live) == set(batch)
    for k in batch:
        assert live[k][1] == batch[k][1]  # weighted counts exact
        assert abs(live[k][0] - batch[k][0]) < 0.02


def test_zset_consolidation_drops_cancelled_rows(spark):
    """The Z-set merge-transform (group by identity, sum weights, drop
    zeros) must erase an insert+retract pair entirely — the state-bound
    claim that CDC churn doesn't grow compacted state."""
    from pyspark.sql import functions as F

    rows = [
        (1, 10, 5.0, 1),
        (1, 10, 5.0, -1),  # retracted -> must vanish
        (2, 11, 7.0, 1),
    ]
    df = spark.createDataFrame(
        rows, "orderkey long, custkey long, price double, w long"
    )
    out = (
        df.groupBy("orderkey", "custkey", "price")
        .agg(F.sum("w").alias("w"))
        .filter(F.col("w") != 0)
        .collect()
    )
    assert [(r["orderkey"], r["w"]) for r in out] == [(2, 1)]


def test_stream_join_size_twin_lands_on_batch(spark):
    """The masked-down folded counters must reproduce the batch
    estimator exactly: (hash % 2^24) % W == hash % W for every
    power-of-two W dividing 2^24, so the twin's output equals
    q_join_size_estimate's row bit-for-bit."""
    from bigdataminingproject_spark.operators.sketches import (
        q_join_size_estimate,
    )
    from bigdataminingproject_spark.streaming.pipeline import (
        q_stream_join_size_maintenance,
    )

    sf_dir = "/root/testdata/sf0.001"
    batch = q_join_size_estimate(spark, sf_dir).collect()[0]
    live = q_stream_join_size_maintenance(spark, sf_dir).collect()[0]
    assert tuple(live) == tuple(batch)


def test_cms_mask_down_identity(spark):
    """The count-invariant-counter algebra: summing max-precision
    counters over bucket % W equals building the width-W sketch
    directly."""
    from pyspark.sql import functions as F

    from bigdataminingproject_spark.operators.sketches import (
        cms_relation,
    )
    from bigdataminingproject_spark.sources.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    wide = cms_relation(orders, "o_custkey", 3, 1 << 20)
    masked = (
        wide.select("d", (F.col("bucket") % 256).alias("bucket"), "cnt")
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = cms_relation(orders, "o_custkey", 3, 256)
    m = {(r["d"], r["bucket"]): r["cnt"] for r in masked.collect()}
    dd = {(r["d"], r["bucket"]): r["cnt"] for r in direct.collect()}
    assert m == dd


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory, sf_dir):
    """A zero-row copy of every table in ``sf_dir``, with the same schemas."""
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("sf_empty")
    for name in os.listdir(sf_dir):
        schema = pq.read_schema(os.path.join(sf_dir, name))
        pq.write_table(schema.empty_table(), str(out / name))
    return str(out)


def _distinct_user_hours(spark, sf_dir):
    """The batch answer ``q_stream_dedup`` must emit."""
    return (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("hour", "ts").alias("event_hour"))
        .distinct()
        .orderBy("user_id", "event_hour")
    )


# one twin of each scaffold shape, with the batch query it maintains
_EMPTY_SOURCE_PAIRS = [
    ("q_stream_decay_maintenance", q_events_decay_score),
    ("q_stream_curation_maintenance", q_corpus_curation_incremental),
    ("q_stream_itemsim_maintenance", q_part_itemsim),
    ("q_stream_join_size_maintenance", q_join_size_estimate),
    ("q_stream_hourly", q_events_hourly),
    ("q_stream_hourly_maintenance", q_events_hourly),
    ("q_stream_sessions", q_events_sessionize),
    ("q_stream_snapshots", q_doc_snapshots),
    ("q_stream_dedup", _distinct_user_hours),
]


@pytest.mark.parametrize(
    "twin,batch", _EMPTY_SOURCE_PAIRS, ids=[t for t, _ in _EMPTY_SOURCE_PAIRS]
)
def test_twin_on_empty_source_equals_batch(spark, empty_sf, twin, batch):
    """On zero-row tables every twin still runs one (empty) micro-batch
    and publishes what its batch query gives: the same rows and the same
    column names and types (nullability differs between a parquet round
    trip and a plan, so it is not compared)."""
    want = batch(spark, empty_sf)
    live = getattr(pipeline, twin)(spark, empty_sf)
    assert [(f.name, f.dataType) for f in live.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert [tuple(r) for r in live.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_twin_runner_leaves_no_orphans(
    spark, sf_dir, tmp_path, monkeypatch, rebind
):
    """A store twin, a memory-sink twin and a twin whose upsert raises
    all leave no directory behind and no memory-sink table registered."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    tables = {t.name for t in spark.catalog.listTables()}

    def leftovers():
        new_tables = {t.name for t in spark.catalog.listTables()} - tables
        return sorted(os.listdir(tmp_path)), new_tables

    assert pipeline.q_stream_decay_maintenance(spark, sf_dir).count() > 0
    assert leftovers() == ([], set())
    assert pipeline.q_stream_dedup(spark, sf_dir).count() > 0
    assert leftovers() == ([], set())

    def raising(original):
        def fail(*args, **kwargs):
            raise RuntimeError("injected upsert failure")

        return fail

    rebind(
        "bigdataminingproject_spark.operators.events",
        "decay_partials",
        raising,
    )
    with pytest.raises(Exception, match="injected upsert failure"):
        pipeline.q_stream_decay_maintenance(spark, sf_dir)
    assert leftovers() == ([], set())
