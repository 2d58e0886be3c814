"""Conversation-corpus ETL (reference S1-S5, F1-F4, P1-P2).

The reference walks directories of one-conversation-per-file JSON, filters
and NLP-preprocesses message bodies in row-at-a-time Python, and pickles
the result (data_loader/scc_dataset_loader.py:20-56,
base_dataset_loader.py:36-93). Re-expressed Spark-first:

- one schema'd ``spark.read.json`` with recursiveFileLookup (S1) — scans
  parallelize across executors and Catalyst prunes unused message fields;
- conversation-level predicates as higher-order array functions (F2/F3) —
  no explode needed to decide them;
- per-message preprocessing as pure column expressions (T1-T7 in
  functions/text.py), vectorized JVM-side;
- the pickle cache becomes a config-hashed Parquet materialization
  (S2/S3) partitioned by split — at 100 TB this is the only sane shape
  (re-readable, prunable, schema-checked).

Reference stopword quirk preserved (base_dataset_loader.py:81-90): with
``use_skipwords=True`` ONLY the 4 custom skipwords are removed; with
False, the full English stopword list — either/or, not a union.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from bigdataminingproject_spark.functions.lits import lit_array

from bigdataminingproject_spark.functions.text import (
    ENGLISH_STOPWORDS,
    SKIPWORDS,
    alpha_tokens,
    remove_file_description,
    tokenize,
)
from bigdataminingproject_spark.schemas import CONVERSATION_SCHEMA


def reference_stop_set(use_skipwords: bool) -> tuple[str, ...]:
    """The reference's either/or stop set (base_dataset_loader.py:81-85)."""
    return SKIPWORDS if use_skipwords else ENGLISH_STOPWORDS


def read_conversation_dir(
    spark: SparkSession, path: str, split: str | None = None
) -> DataFrame:
    """S1: recursive schema'd JSON scan; one file = one conversation.

    ``conv_id`` is the source file path (stable identity), ``split`` a
    constant column when the directory layout encodes it.
    """
    df = (
        spark.read.schema(CONVERSATION_SCHEMA)
        .option("multiLine", "true")
        .option("recursiveFileLookup", "true")
        .json(path)
        .withColumn("conv_id", F.input_file_name())
    )
    return df.withColumn("split", F.lit(split))


def filter_conversations(df: DataFrame, all_messages: bool = False) -> DataFrame:
    """F2 + F3 (scc_dataset_loader.py:38-43), as array predicates.

    Default mode: drop any conversation containing an Instagram/Telegram
    message, then keep only inbound (scammer) messages. ``all_messages``
    skips both, like the reference flag.
    """
    if all_messages:
        return df
    has_blocked = F.exists(
        F.col("messages"),
        lambda m: m["medium"].isin("Instagram", "Telegram"),
    )
    inbound_only = F.filter(
        F.col("messages"), lambda m: m["is_inbound"] == F.lit(True)
    )
    return df.filter(~F.coalesce(has_blocked, F.lit(False))).withColumn(
        "messages", inbound_only
    )


def preprocess_expr(body: Column, use_skipwords: bool = True) -> Column:
    """Reference preprocessing chain on one body column
    (base_dataset_loader.py:88-91): lower → tokenize → alpha → either/or
    stop set → rejoin. Lemmatization is the optional pandas_udf parity
    step in functions/nlp.py (NLTK isn't a hard dependency)."""
    stop = reference_stop_set(use_skipwords)
    stop_arr = lit_array(sorted(stop))
    toks = alpha_tokens(tokenize(body))
    toks = F.filter(toks, lambda t: ~F.array_contains(stop_arr, t))
    return F.array_join(toks, " ")


def messages_table(
    conversations: DataFrame,
    use_skipwords: bool = True,
    label: str = "scam",
    dataset: str = "SCC",
) -> DataFrame:
    """Normalize conversations → messages relation with preprocessing.

    Order of operations mirrors the reference exactly
    (scc_dataset_loader.py:44-45 → base_dataset_loader.py:67-75):
    boilerplate scrub (F4) → drop empty bodies (F1, post-scrub) →
    preserve raw_body → preprocess body.
    """
    msg = (
        conversations.select(
            "conv_id",
            "split",
            F.posexplode("messages").alias("msg_index", "m"),
        )
        .select(
            "conv_id",
            "msg_index",
            remove_file_description(F.col("m.body")).alias("scrubbed"),
            F.col("m.time").alias("time"),
            F.col("m.medium").alias("medium"),
            F.col("m.is_inbound").alias("is_inbound"),
            "split",
        )
        .filter(F.col("scrubbed").isNotNull() & (F.col("scrubbed") != ""))
    )
    return msg.select(
        "conv_id",
        "msg_index",
        preprocess_expr(F.col("scrubbed"), use_skipwords).alias("body"),
        F.col("scrubbed").alias("raw_body"),
        "time",
        "medium",
        "is_inbound",
        F.lit(label).alias("label"),
        F.lit(dataset).alias("dataset"),
        "split",
    )


def ordered_message_stream(
    messages: DataFrame,
    limit: int | None = None,
    sort_by_time: bool = True,
) -> DataFrame:
    """S4 (run_detectors.py:14-34): global time order (missing time sorts
    last), optional limit, body projection. Returns (stream_pos, body)
    with dense positions 1..n.

    A bounded replay (``limit`` given, the reference's ``--max-messages``)
    is a top-N: ``orderBy(...).limit(limit)`` plans as one
    TakeOrderedAndProject stage that keeps at most ``limit`` rows per
    task, so its memory is bounded by the limit, not by the corpus; the
    positions are a ``row_number`` over those ``limit`` rows. Spark falls
    back to a sort + limit on its own above
    ``spark.sql.execution.topKSortFallbackThreshold``. An unbounded replay
    numbers the whole split with the distributed two-phase
    ``with_global_position`` instead — no single-partition sort.
    """
    from pyspark.sql.window import Window

    from bigdataminingproject_spark.plans.ordering import with_global_position

    df = messages.filter(F.col("body").isNotNull() & (F.col("body") != ""))
    tiebreakers = [F.col("conv_id"), F.col("msg_index")]
    order = tiebreakers
    if sort_by_time:
        order = [F.col("time").asc_nulls_last()] + tiebreakers
    if limit is None and sort_by_time:
        # distributed two-phase global position over the numeric time
        # column (nulls last, reference S4) — no single-partition sort
        df = with_global_position(
            df, "time", tiebreakers=tiebreakers, pos_col="stream_pos"
        )
    else:
        if limit is not None:
            df = df.orderBy(*order).limit(limit)
        # a window over at most ``limit`` rows; an unbounded arrival-order
        # replay (string keys) is a documented scale limitation
        df = df.withColumn(
            "stream_pos", F.row_number().over(Window.orderBy(*order))
        )
    return df.select("stream_pos", "body")


def split_corpus(
    conversations: DataFrame,
    train_ratio: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """S5/P2 (utils/split_into_directories.py:6-30), Spark-first.

    Instead of shuffling and *moving* files, assign a deterministic split
    column (seeded xxhash of the conversation's file NAME) — idempotent,
    reproducible, and the downstream Parquet write partitions by it. The
    basename, not the full path, is hashed so relocating or re-staging
    the corpus directory never reshuffles train/test membership (the
    reference's move-based split is basename-stable the same way).
    """
    fname = F.element_at(F.split(F.col("conv_id"), "/"), -1)
    bucket = F.pmod(F.xxhash64(fname, F.lit(seed)), F.lit(10_000))
    return conversations.withColumn(
        "split",
        F.when(bucket < int(train_ratio * 10_000), F.lit("train")).otherwise(
            F.lit("test")
        ),
    )


def random_three_way_split(
    df: DataFrame,
    test: float = 0.2,
    val: float = 0.1,
    seed: int = 42,
) -> dict[str, DataFrame]:
    """P1 (dataloader.py:27-38): sklearn-style train/val/test split."""
    train_frac = (1.0 - test) * (1.0 - val)
    val_frac = (1.0 - test) * val
    tr, va, te = df.randomSplit([train_frac, val_frac, test], seed=seed)
    return {"train": tr, "val": va, "test": te}


# --- Config-hashed Parquet cache (S2/S3) ------------------------------------

@dataclass(frozen=True)
class LoaderConfig:
    """Mirror of the reference cache key
    (base_dataset_loader.py:49-54): md5 over the knobs that change the
    preprocessed output."""

    data_dir: str
    label: str = "scam"
    sample_size: int | None = None
    use_skipwords: bool = True
    random_state: int = 42
    all_messages: bool = False

    def cache_key(self) -> str:
        blob = (
            f"{self.data_dir}|{self.label}|{self.sample_size}|"
            f"{self.use_skipwords}|{self.random_state}|{self.all_messages}"
        )
        return hashlib.md5(blob.encode()).hexdigest()


def load_or_build_messages(
    spark: SparkSession,
    config: LoaderConfig,
    cache_dir: str,
    force_reload: bool = False,
) -> DataFrame:
    """S3 cache-or-compute gate: Parquet materialization keyed by the
    config hash; ``force_reload`` overwrites (base_dataset_loader.py:36-43).
    """
    import os

    cache_path = os.path.join(cache_dir, config.cache_key())
    if not force_reload and os.path.exists(cache_path):
        return spark.read.parquet(cache_path)
    convs = read_conversation_dir(spark, config.data_dir)
    convs = split_corpus(convs, seed=config.random_state)
    convs = filter_conversations(convs, config.all_messages)
    if config.sample_size is not None:
        # F9: bounded deterministic sample per split
        from pyspark.sql.window import Window

        rank = F.row_number().over(
            Window.partitionBy("split").orderBy(
                F.xxhash64("conv_id", F.lit(config.random_state))
            )
        )
        convs = (
            convs.withColumn("_r", rank)
            .filter(F.col("_r") <= config.sample_size)
            .drop("_r")
        )
    msgs = messages_table(
        convs, use_skipwords=config.use_skipwords, label=config.label
    )
    msgs.write.mode("overwrite").partitionBy("split").parquet(cache_path)
    return spark.read.parquet(cache_path)
