"""Snapshot / count-window machinery — the reference driver's W5/W3/A12.

The reference streams messages one-by-one and every ``update_interval``
(=100) messages emits a snapshot {message_count, top_10_tokens, burst,
duplicates_so_far} (run_detectors.py:193-211); burst compares the last 25
vs the previous 25 *messages* (count-based windows, DGIM-backed,
burst_detector.py:43-77, eps=1e-6).

Batch-exact re-expression: a ``row_number`` over the stream order is the
synthetic event-time (SURVEY.md W2); tumbling 100-row buckets are the
snapshots; sliding count-windows become range predicates on row position
against the (tiny, broadcast) snapshot-boundary list. All exact — the
sketch approximations (CMS over-counts, DGIM half-bucket error) are
deliberately replaced by true counts (SURVEY.md §4 exact-first stance).

The live Structured Streaming twin is in streaming/pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdataminingproject_spark.functions.text import remove_stopwords, tokenize
from bigdataminingproject_spark.operators.dedup import with_duplicate_scores
from bigdataminingproject_spark.sources.tables import load_table

UPDATE_INTERVAL = 100  # run_detectors.py:101-105
BURST_WINDOW = 50  # streaming_pipeline.py:23
BURST_EPS = 1e-6  # burst_detector.py:57
BURST_THRESHOLD = 2.0
BURST_MIN_COUNT = 1


def with_snapshot_position(
    docs: DataFrame,
    order_col: str,
    interval: int = UPDATE_INTERVAL,
    dense_from: int | None = None,
) -> DataFrame:
    """Attach the stream position ``rn`` (1-based, dense) and the snapshot
    ``bucket`` — the ordered relation every ``*_from_ordered`` core reads.

    Uses the distributed two-phase global position (plans/ordering.py)
    rather than a bare ORDER BY window — a single-partition global sort
    would not survive 100x data. The position costs an eager quantile
    job plus a window and an offset join, so a caller running several
    cores over one stream numbers it once and persists the result.

    ``dense_from``: the caller has established that ``order_col`` is
    already dense, i.e. exactly the values ``dense_from`` ..
    ``dense_from + count - 1``; the position is then the projection
    ``rn = order_col - dense_from + 1`` and nothing is renumbered.
    """
    from bigdataminingproject_spark.plans.ordering import with_global_position

    if dense_from is None:
        pos = with_global_position(docs, order_col, pos_col="rn")
    else:
        pos = docs.withColumn(
            "rn", (F.col(order_col) - F.lit(dense_from) + 1).cast("long")
        )
    return pos.withColumn(
        "bucket", F.floor((F.col("rn") - 1) / interval).cast("long")
    )


def snapshot_summary(
    docs: DataFrame,
    order_col: str = "doc_id",
    text_col: str = "text",
    interval: int = UPDATE_INTERVAL,
) -> DataFrame:
    """Per-snapshot counters: message_count, duplicates_so_far, period
    distinct tokens (A11/A12 over W5 tumbling count-windows)."""
    flagged = with_duplicate_scores(docs, order_col, text_col)
    return snapshot_summary_from_flags(
        with_snapshot_position(flagged, order_col, interval), text_col
    ).orderBy("snapshot_id")


def snapshot_summary_from_flags(
    ordered: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Snapshot counters from an ordered relation (``rn``, ``bucket``,
    see :func:`with_snapshot_position`) whose rows already carry an
    ``is_duplicate`` flag — shared by the batch scorer (above), the
    batch pipeline and the Structured Streaming stateful scorer
    (streaming/pipeline.py), so every surface produces the summary
    through one code path. Rows come back unordered; the registry entry
    points sort by ``snapshot_id``."""
    toks = remove_stopwords(tokenize(F.col(text_col)))
    per_bucket = (
        ordered.select(
            "bucket",
            "rn",
            F.col("is_duplicate").cast("int").alias("is_dup"),
            toks.alias("toks"),
        )
        .withColumn("token", F.explode_outer("toks"))
        .groupBy("bucket")
        .agg(
            F.max("rn").cast("long").alias("message_count"),
            # rn-level values repeat per exploded token; count docs once
            F.count_distinct(F.when(F.col("is_dup") == 1, F.col("rn"))).alias(
                "duplicates_in_period"
            ),
            F.count_distinct("token").alias("distinct_tokens_in_period"),
        )
    )
    # Unpartitioned window is safe HERE ONLY because per_bucket has one
    # row per snapshot bucket (= corpus_size / interval rows — thousands
    # at 100 TB, not billions); the reducing groupBy above is what the
    # plan-quality gate (unsafe_single_partition_exchanges) checks for.
    cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.withColumn(
            "duplicates_so_far", F.sum("duplicates_in_period").over(cum)
        )
        .select(
            F.col("bucket").alias("snapshot_id"),
            "message_count",
            "duplicates_so_far",
            "distinct_tokens_in_period",
        )
    )


def topk_cumulative_tokens(
    docs: DataFrame,
    k: int = 10,
    order_col: str = "doc_id",
    text_col: str = "text",
    interval: int = UPDATE_INTERVAL,
) -> DataFrame:
    """Top-k tokens by cumulative frequency at each snapshot (A7/A8 per W5).

    Exact counterpart of the reference's periodically-refreshed CMS+heap
    top-k (frequency_detector.py:44-87): at snapshot s, rank tokens by
    their exact count over all messages in buckets <= s.
    """
    return topk_cumulative_from_ordered(
        with_snapshot_position(docs, order_col, interval), k, text_col
    ).orderBy("snapshot_id", "rnk")


def topk_cumulative_from_ordered(
    ordered: DataFrame, k: int = 10, text_col: str = "text"
) -> DataFrame:
    """:func:`topk_cumulative_tokens` over an already-ordered relation,
    unordered (``rnk`` carries the rank). The last snapshot's ranking is
    the whole stream's top-k."""
    toks = remove_stopwords(tokenize(F.col(text_col)))
    counts = (
        ordered.select("bucket", F.explode(toks).alias("token"))
        .groupBy("bucket", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    snaps = counts.select("bucket").distinct().select(
        F.col("bucket").alias("snapshot_id")
    )
    cum = (
        counts.join(
            F.broadcast(snaps), counts.bucket <= snaps.snapshot_id
        )
        .groupBy("snapshot_id", "token")
        .agg(F.sum("cnt").alias("cum_count"))
    )
    w = Window.partitionBy("snapshot_id").orderBy(
        F.desc("cum_count"), "token"
    )
    return (
        cum.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("snapshot_id", "token", "cum_count", "rnk")
    )


def burst_windows(
    docs: DataFrame,
    order_col: str = "doc_id",
    text_col: str = "text",
    recent_k: int = BURST_WINDOW // 2,
    prev_k: int = BURST_WINDOW // 2,
    threshold: float = BURST_THRESHOLD,
    min_count: int = BURST_MIN_COUNT,
    interval: int = UPDATE_INTERVAL,
) -> DataFrame:
    """Exact count-window burst detection at each snapshot boundary (W3).

    Reference semantics (burst_detector.py:43-77) with exact per-token
    counts instead of hash-bin DGIM estimates (W4's 544 bins exist only to
    bound single-process memory; grouping by the token itself is exact and
    collision-free — SURVEY.md W4 design note): at boundary B,
    recent = occurrences in stream positions (B-recent_k, B],
    prev = occurrences in (B-recent_k-prev_k, B-recent_k]; flag iff
    recent >= min_count and (recent+eps)/(prev+eps) >= threshold; order by
    (-ratio, -recent).
    """
    return burst_windows_from_ordered(
        with_snapshot_position(docs, order_col, interval),
        text_col,
        recent_k,
        prev_k,
        threshold,
        min_count,
    ).orderBy("boundary", F.desc("ratio"), F.desc("recent_count"), "token")


def burst_windows_from_ordered(
    ordered: DataFrame,
    text_col: str = "text",
    recent_k: int = BURST_WINDOW // 2,
    prev_k: int = BURST_WINDOW // 2,
    threshold: float = BURST_THRESHOLD,
    min_count: int = BURST_MIN_COUNT,
) -> DataFrame:
    """:func:`burst_windows` over an already-ordered relation, unordered;
    :func:`burst_order` is the entry point's order for collected rows."""
    toks = remove_stopwords(tokenize(F.col(text_col)))
    tok = ordered.select("rn", F.explode(toks).alias("token"))
    boundaries = (
        ordered.groupBy("bucket")
        .agg(F.max("rn").cast("long").alias("boundary"))
        .select("boundary")
    )
    lo = F.col("boundary") - F.lit(recent_k + prev_k)
    mid = F.col("boundary") - F.lit(recent_k)
    joined = tok.join(
        F.broadcast(boundaries),
        (F.col("rn") > lo) & (F.col("rn") <= F.col("boundary")),
    )
    agg = joined.groupBy("boundary", "token").agg(
        F.sum((F.col("rn") > mid).cast("int")).alias("recent_count"),
        F.sum((F.col("rn") <= mid).cast("int")).alias("prev_count"),
    )
    ratio = (F.col("recent_count") + F.lit(BURST_EPS)) / (
        F.col("prev_count") + F.lit(BURST_EPS)
    )
    return (
        agg.filter(
            (F.col("recent_count") >= min_count) & (ratio >= threshold)
        )
        .select(
            "boundary",
            "token",
            "recent_count",
            "prev_count",
            F.round(ratio, 4).alias("ratio"),
        )
    )


def burst_order(row) -> tuple:
    """Sort key of a collected burst row: boundary, then ratio and recent
    count descending, then token — :func:`burst_windows`' order."""
    return (row["boundary"], -row["ratio"], -row["recent_count"], row["token"])


# --- query registry entries -------------------------------------------------

def q_doc_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return snapshot_summary(docs)


def q_doc_topk_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return topk_cumulative_tokens(docs, k=10)


def q_doc_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return burst_windows(docs)
