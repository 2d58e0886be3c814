"""End-to-end batch-replay detector pipeline (reference entry point A)."""

from __future__ import annotations

import pytest

from bigdataminingproject_spark.plans.pipeline import run_detector_pipeline


@pytest.fixture(scope="module")
def stream(spark):
    rows = []
    pos = 1
    for i in range(95):
        rows.append((pos, "ordinary filler message text"))
        pos += 1
    # 5 exact repeats of the first message → duplicates
    for i in range(5):
        rows.append((pos, "ordinary filler message text"))
        pos += 1
    # a second snapshot period with a bursting token
    for i in range(100):
        body = "calm steady words"
        if i >= 75:
            body += " burstword"
        rows.append((pos, body))
        pos += 1
    return spark.createDataFrame(rows, "stream_pos long, body string")


def test_summary_shape_and_counts(spark, stream):
    summary = run_detector_pipeline(
        stream, update_interval=100, freq_queries=["filler", "BURSTWORD", "zzz"]
    )
    assert summary["processed"] == 200
    # period 1: messages 2..100 are exact repeats of msg 1 → 99 dups.
    # period 2: 'calm steady words' is a single shingle — every repeat
    # after pos 101 scores 1.0 except pos 176 (first 'burstword' shingle
    # halves its score to 0.5) → 98 more. Total 197.
    assert summary["duplicates"]["total"] == 197
    assert summary["duplicates"]["rate"] == pytest.approx(197 / 200)
    assert len(summary["periodic_snapshots"]) == 2
    snap1, snap2 = summary["periodic_snapshots"]
    assert snap1["message_count"] == 100
    assert snap1["duplicates_so_far"] == 99
    assert snap2["message_count"] == 200
    assert snap2["duplicates_so_far"] == 197


def test_burst_in_second_snapshot(spark, stream):
    summary = run_detector_pipeline(stream, update_interval=100)
    snap2 = summary["periodic_snapshots"][1]
    burst_tokens = {b["token"] for b in snap2["burst"]}
    assert "burstword" in burst_tokens
    top = [b for b in snap2["burst"] if b["token"] == "burstword"][0]
    assert top["recent_count"] == 25
    assert top["prev_count"] == 0
    assert top["representative"] == "burstword"


def test_frequency_estimates_lowercased_and_unseen(spark, stream):
    summary = run_detector_pipeline(
        stream, freq_queries=["filler", "BURSTWORD", "zzz"]
    )
    est = summary["frequency_estimates"]
    assert est["filler"] == 100
    assert est["burstword"] == 25  # uppercase query lowercased (A9)
    assert est["zzz"] == 0


def test_exclude_duplicates_mode(spark, stream):
    summary = run_detector_pipeline(stream, exclude_duplicates=True)
    assert summary["excluded_duplicates"] == 197
    # final top tokens computed over the deduplicated stream
    assert summary["final_top_tokens"]["filler"] == 1


def test_final_top_tokens(spark, stream):
    summary = run_detector_pipeline(stream)
    top = summary["final_top_tokens"]
    assert top["calm"] == 100
    assert top["burstword"] == 25


def assert_same_summary(got, expected):
    """Summaries are equal; the score average only up to float summation
    order, which follows the shuffle partitioning of the positions."""
    got, expected = dict(got), dict(expected)
    got_dups = dict(got.pop("duplicates"))
    exp_dups = dict(expected.pop("duplicates"))
    assert got_dups.pop("avg_score") == pytest.approx(exp_dups.pop("avg_score"))
    assert got_dups == exp_dups
    assert got == expected


@pytest.fixture
def calls(rebind):
    """Counts of the pipeline's scoring core and global numbering calls
    during one test."""
    counts = {"with_duplicate_scores": 0, "with_global_position": 0}

    def counting(original):
        def counted(*args, **kwargs):
            counts[original.__name__] += 1
            return original(*args, **kwargs)

        return counted

    rebind(
        "bigdataminingproject_spark.operators.dedup",
        "with_duplicate_scores",
        counting,
    )
    rebind(
        "bigdataminingproject_spark.plans.ordering",
        "with_global_position",
        counting,
    )
    return counts


def test_stream_scored_and_ordered_once(spark, stream, calls):
    """One run scores duplicates once and numbers the analyzed stream
    once; totals and every snapshot operator share those relations.
    Under exclusion the kept messages (0-based positions 0, 100 and
    175) are renumbered densely to snapshot positions 1, 2 and 3."""
    zero_based = stream.selectExpr("stream_pos - 1 AS stream_pos", "body")
    summary = run_detector_pipeline(
        zero_based,
        update_interval=2,
        freq_queries=["calm", "filler"],
        exclude_duplicates=True,
    )
    assert calls == {"with_duplicate_scores": 1, "with_global_position": 1}
    assert summary["processed"] == 3
    assert summary["excluded_duplicates"] == 197
    assert summary["duplicates"]["total"] == 0
    snaps = summary["periodic_snapshots"]
    assert [s["message_count"] for s in snaps] == [2, 3]
    assert [s["duplicates_so_far"] for s in snaps] == [0, 0]
    assert snaps[0]["top_10_tokens"]["calm"] == 1
    assert snaps[1]["top_10_tokens"]["calm"] == 2
    assert snaps[1]["top_10_tokens"]["burstword"] == 1
    assert summary["final_top_tokens"] == snaps[1]["top_10_tokens"]
    assert summary["frequency_estimates"] == {"calm": 2, "filler": 1}


@pytest.fixture(scope="module")
def dense_summary(spark, stream):
    """The keep-mode summary of the 1-based stream, every 50 messages."""
    return run_detector_pipeline(
        stream, update_interval=50, freq_queries=["calm", "burstword"]
    )


def test_dense_keep_mode_is_not_renumbered(spark, stream, dense_summary, calls):
    """A keep-mode stream whose positions are already dense (here 0-based,
    as a shifted replay would be) is positioned by projection: no global
    numbering pass, same summary as the 1-based stream."""
    zero_based = stream.selectExpr("stream_pos - 1 AS stream_pos", "body")
    summary = run_detector_pipeline(
        zero_based, update_interval=50, freq_queries=["calm", "burstword"]
    )
    assert calls["with_global_position"] == 0
    snaps = summary["periodic_snapshots"]
    assert [s["message_count"] for s in snaps] == [50, 100, 150, 200]
    assert_same_summary(summary, dense_summary)


def test_keep_mode_with_gaps_is_renumbered(spark, stream, dense_summary, calls):
    """Positions with gaps (every position times 3) are renumbered through
    the global position and give the same summary as the dense stream."""
    gapped = stream.selectExpr("stream_pos * 3 AS stream_pos", "body")
    summary = run_detector_pipeline(
        gapped, update_interval=50, freq_queries=["calm", "burstword"]
    )
    assert calls["with_global_position"] == 1
    assert_same_summary(summary, dense_summary)
