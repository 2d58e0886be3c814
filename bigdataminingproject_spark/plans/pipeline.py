"""Batch-replay detector pipeline — reference entry point A
(run_detectors.py:38-126) re-expressed as one declarative plan set.

Consumes an ordered message stream (``stream_pos``, ``body``) and emits
the reference's summary structure (run_detectors.py:227-245):
processed / excluded counts, duplicate totals + rate + avg score,
periodic snapshots every ``update_interval`` messages (message_count,
top-N tokens, burst windows, duplicates_so_far), final top tokens and
final burst, optional frequency point-estimates.

All distributed work happens in the operator plans (dedup/snapshots/
frequency); only the small summary aggregates are collected — nothing
driver-side grows with corpus size, which is what makes this shape hold
at 100 TB where the reference's per-message Python loop cannot.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataminingproject_spark.operators import snapshots as snap_ops
from bigdataminingproject_spark.operators.dedup import with_duplicate_scores
from bigdataminingproject_spark.operators.frequency import estimate_batch


def run_detector_pipeline(
    stream: DataFrame,
    update_interval: int = 100,
    top_frequency: int = 10,
    freq_queries: list[str] | None = None,
    exclude_duplicates: bool = False,
) -> dict[str, Any]:
    """Run the full duplicate/frequency/burst analysis over a bounded
    replay stream and return the reference-shaped summary dict.

    ``stream`` must have columns (stream_pos long/int, body string) with
    ``stream_pos`` unique — produced by
    ``sources.conversations.ordered_message_stream``, whose bounded
    replay is a top-N of at most ``--max-messages`` rows.

    Dense fast path: the snapshot operators need positions 1..n over the
    analyzed messages. In keep mode, when the totals aggregate shows that
    ``stream_pos`` is already dense (count == max - min + 1, as
    ``ordered_message_stream`` emits it), the position is the projection
    ``stream_pos - min + 1``. Exclude mode, and a keep-mode stream with
    gaps, renumber through ``with_snapshot_position``'s global position.

    DOCUMENTED DIVERGENCE (``exclude_duplicates=True``): the reference
    loop feeds every message's tokens to the CMS/top-k state BEFORE the
    exclusion check (run_detectors.py:166-178 — process_message runs,
    then the duplicate verdict gates only downstream snapshot/summary
    accounting), so excluded duplicates' tokens still count toward
    frequency estimates there. This pipeline analyzes KEPT messages
    only — the exclusion is a real filter on the analyzed relation —
    which is the semantics a batch consumer of "the deduplicated
    stream" expects, and the totals/snapshot accounting matches the
    reference loop exactly (differential-tested). If strict frequency
    parity under exclude-mode is ever needed, score-and-observe before
    filtering: feed ``estimate_batch`` and a whole-stream top-k from
    ``flagged`` and keep the exclusion for the snapshot/summary
    relations only.
    ``tests/test_reference_differential.py`` scopes frequency parity
    out under exclude-mode for this reason.
    """
    # The pipeline fans out into five collects (totals, snapshots,
    # cumulative top-k, burst, estimates); the final top-k is read off
    # the last cumulative snapshot. Every relation they share is
    # computed once and persisted, mirroring the reference's single pass
    # (run_detectors.py:140-215):
    #   stream  — the input plan (scan + ordering) is replayed by the
    #             scorer's shingle branch and the score join;
    #   flagged — each message with its duplicate score and flag
    #             (A10/A11), scored once and joined onto the stream once;
    #   ordered — the analyzed messages numbered 1..n with their snapshot
    #             bucket, feeding all three snapshot operators.
    stream = stream.select(
        F.col("stream_pos").cast("long").alias("stream_pos"), "body"
    ).persist()
    flagged = with_duplicate_scores(
        stream, order_col="stream_pos", text_col="body"
    ).persist()

    # F7 (run_detectors.py:166-194): with exclude_duplicates an excluded
    # message never increments `processed`, and since every flagged
    # message is excluded, `duplicates.total` is 0 by construction — so
    # ALL totals aggregate over the KEPT messages (caught by
    # tests/test_reference_differential.py). One aggregate serves both
    # modes.
    is_dup = F.col("is_duplicate")
    kept = ~is_dup if exclude_duplicates else F.lit(True)
    totals = flagged.agg(
        F.count(F.when(kept, 1)).alias("processed"),
        F.count(F.when(kept & is_dup, 1)).alias("dups"),
        F.sum(F.when(kept, F.col("duplicate_score"))).alias("score_sum"),
        F.count(F.when(is_dup, 1)).alias("flagged"),
        F.min("stream_pos").alias("pos_min"),
        F.max("stream_pos").alias("pos_max"),
    ).first()
    processed = totals["processed"]
    dup_count = totals["dups"]
    excluded = totals["flagged"] if exclude_duplicates else 0

    # Dense positions over the analyzed stream: under exclusion the kept
    # messages are renumbered, so snapshots count kept messages only. A
    # kept stream that is already dense is only shifted to start at 1.
    dense = (
        not exclude_duplicates
        and processed > 0
        and processed == totals["pos_max"] - totals["pos_min"] + 1
    )
    ordered = snap_ops.with_snapshot_position(
        flagged.filter(kept),
        "stream_pos",
        update_interval,
        dense_from=totals["pos_min"] if dense else None,
    ).persist()
    # the cores return unordered rows; order them here, as the registry
    # entry points do in Spark
    snapshot_rows = sorted(
        snap_ops.snapshot_summary_from_flags(ordered, text_col="body").collect(),
        key=lambda r: r["snapshot_id"],
    )
    topk_rows = sorted(
        snap_ops.topk_cumulative_from_ordered(
            ordered, k=top_frequency, text_col="body"
        ).collect(),
        key=lambda r: (r["snapshot_id"], r["rnk"]),
    )
    burst_rows = sorted(
        snap_ops.burst_windows_from_ordered(ordered, text_col="body").collect(),
        key=snap_ops.burst_order,
    )

    topk_by_snap: dict[int, dict[str, int]] = {}
    for r in topk_rows:
        topk_by_snap.setdefault(r["snapshot_id"], {})[r["token"]] = r[
            "cum_count"
        ]
    burst_by_boundary: dict[int, list[dict[str, Any]]] = {}
    for r in burst_rows:
        burst_by_boundary.setdefault(r["boundary"], []).append(
            {
                "token": r["token"],
                "ratio": r["ratio"],
                "recent_count": r["recent_count"],
                "prev_count": r["prev_count"],
                "representative": r["token"],  # exact mode: A6 argmax = token
            }
        )

    periodic_snapshots = []
    for r in snapshot_rows:
        periodic_snapshots.append(
            {
                "message_count": r["message_count"],
                "top_10_tokens": topk_by_snap.get(r["snapshot_id"], {}),
                "burst": burst_by_boundary.get(r["message_count"], []),
                "duplicates_so_far": r["duplicates_so_far"],
            }
        )

    freq_estimates: dict[str, int] = {}
    if freq_queries:
        freq_estimates = {
            r["term"]: r["estimate"]
            for r in estimate_batch(
                ordered, freq_queries, text_col="body"
            ).collect()
        }

    # The last snapshot's cumulative counts cover the whole analyzed
    # stream, so its ranking (same tiebreak as top_k_tokens) IS the
    # final top-k — no separate tokenize + aggregate pass.
    final_top = topk_by_snap[max(topk_by_snap)] if topk_by_snap else {}
    final_burst = burst_by_boundary.get(
        max(burst_by_boundary) if burst_by_boundary else -1, []
    )

    # fan-out complete — release the cached relations (blocking=False:
    # eviction is async, nothing below re-reads them)
    ordered.unpersist()
    flagged.unpersist()
    stream.unpersist()

    return {
        "processed": processed,
        "excluded_duplicates": excluded,
        "update_interval": update_interval,
        "frequency_estimates": freq_estimates,
        "duplicates": {
            "total": dup_count,
            "rate": (dup_count / processed) if processed else 0.0,
            "avg_score": (
                float(totals["score_sum"] or 0.0) / processed
            )
            if processed
            else 0.0,
        },
        "periodic_snapshots": periodic_snapshots,
        "final_burst": final_burst,
        "final_top_tokens": final_top,
    }
