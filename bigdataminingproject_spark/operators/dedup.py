"""Deduplication operator family.

Seeded by the reference's Bloom-filter duplicate detector
(streaming/detectors/duplicate_detector.py) and widened into the dedup
suite a training-data pipeline needs (exact, shingle-overlap streaming
score, n-gram Jaccard, MinHash+LSH, SimHash, embedding cosine — the last
three in similarity.py / this module's minhash section).

Exact-first: the streaming dedup *score* is reproduced batch-exactly with
window functions (first-occurrence semantics, no Bloom false positives);
the Bloom-backed variant lives in the sketch parity layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from bigdataminingproject_spark.functions.numeric import stable_avg
from bigdataminingproject_spark.functions.text import shingles, tokenize
from bigdataminingproject_spark.sources.tables import load_table

DUP_THRESHOLD = 0.7  # duplicate_detector.py:31
NGRAM_SHJ_MAX_DOCS = 100_000  # SHJ->sort-merge cutover (round 8; 10x=50k measured safe)
SHINGLE_K = 3  # duplicate_detector.py:28


def _doc_shingles(docs: DataFrame, order_col: str, text_col: str) -> DataFrame:
    """Explode each document into its k-shingle multiset with positions.

    Tokens are materialized in their own projection first: the shingle
    expression references its input several times, and Catalyst re-runs
    an inlined regex tokenizer per reference (~10x slower) — a cheap
    array-column reference amortizes it to once per row.
    """
    tk = docs.select(
        F.col(order_col).alias("doc_id"),
        tokenize(F.col(text_col)).alias("_toks"),
    )
    return tk.select(
        "doc_id",
        F.posexplode(shingles(F.col("_toks"), SHINGLE_K)).alias(
            "pos", "shingle"
        ),
    )


def duplicate_scores(
    docs: DataFrame,
    order_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = DUP_THRESHOLD,
) -> DataFrame:
    """Batch-exact reference duplicate scoring (A10): one row
    (doc_id, duplicate_score, is_duplicate) per document — see
    :func:`with_duplicate_scores`."""
    return with_duplicate_scores(docs, order_col, text_col, threshold).select(
        F.col(order_col).alias("doc_id"), "duplicate_score", "is_duplicate"
    )


def with_duplicate_scores(
    docs: DataFrame,
    order_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = DUP_THRESHOLD,
) -> DataFrame:
    """``docs`` with its reference duplicate score and flag attached
    (A10) — the per-document scores are left-joined onto ``docs`` once,
    so a caller that needs the scored rows with their text gets them
    without a second join.

    Semantics (duplicate_detector.py:44-61): stream documents in
    ``order_col`` order; a document's score is the fraction of its shingle
    *occurrences* already seen in EARLIER documents; flag iff score >=
    threshold. Check-then-insert ⇒ a shingle's first-ever document never
    hits against itself (including repeats within that same document).

    Exact formulation: hit iff min(doc_id) over the shingle's occurrences
    is strictly smaller than this doc_id — one shuffle on shingle, one on
    doc_id; no state, no false positives. Documents with <k tokens have an
    empty shingle set ⇒ score 0.0 (duplicate_detector.py:44-47).

    min-over-window rather than groupBy-min + back-join: the join variant
    scans and shingles the corpus twice (one Generate per join branch —
    Catalyst does not share the subplan) and, once the distinct-shingle
    table outgrows broadcast, shuffles BOTH sides; the window is a single
    full-multiset shuffle + in-partition sort at any scale. Shingle keys
    are near-uniform (no hot-key skew), so the sort partitions evenly.
    """
    from pyspark.sql.window import Window

    sh = _doc_shingles(docs, order_col, text_col)
    scored = (
        sh.withColumn(
            "first_doc", F.min("doc_id").over(Window.partitionBy("shingle"))
        )
        .withColumn("hit", (F.col("first_doc") < F.col("doc_id")).cast("int"))
        .groupBy(F.col("doc_id").alias(order_col))
        .agg(F.round(F.avg("hit"), 4).alias("_score"))
    )
    score = F.coalesce(F.col("_score"), F.lit(0.0))
    return (
        docs.join(scored, order_col, "left")
        .withColumn("duplicate_score", score)
        .withColumn("is_duplicate", score >= F.lit(threshold))
        .drop("_score")
    )


def dedup_summary(
    docs: DataFrame, order_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-level duplicate counters (A11, run_detectors.py:227-241)."""
    scores = duplicate_scores(docs, order_col, text_col)
    return scores.agg(
        F.count(F.lit(1)).alias("processed"),
        F.sum(F.col("is_duplicate").cast("int")).alias("duplicate_count"),
        F.round(F.avg(F.col("is_duplicate").cast("int")), 4).alias(
            "duplicate_rate"
        ),
        stable_avg(F.col("duplicate_score"), 4).alias("avg_duplicate_score"),
    )


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by normalized-text hash (hash-groupBy).

    Normalization = lowercase + collapse whitespace. Returns one row per
    duplicate *group* with the member ids; at 100 TB this is a single
    shuffle on a 32-char key with map-side distinct.
    """
    norm = F.md5(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    return (
        docs.select(F.col(id_col).alias("doc_id"), norm.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("keeper_id"),
            F.sort_array(F.collect_list("doc_id")).alias("member_ids"),
        )
        .filter(F.col("group_size") > 1)
    )


def shingle_relation(
    docs: DataFrame,
    k: int = SHINGLE_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, shingle_h) relation: distinct k-shingles per doc as
    64-bit xxhash64 values — the canonical input of the PPJoin and the
    unit an incremental pipeline PERSISTS as its shingle index (smaller
    shuffle rows, long equality instead of string compare; collision
    odds over a corpus's distinct shingles are ~n²/2^65 — immaterial).
    """
    tk = docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize(F.col(text_col)).alias("_toks"),
    )
    return tk.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(F.col("_toks"), k))).alias(
            "shingle"
        ),
    ).select("doc_id", F.xxhash64("shingle").alias("shingle_h"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = SHINGLE_K,
    text_col: str = "text",
    id_col: str = "doc_id",
    b_side_ids: DataFrame | None = None,
    shingle_rel: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    Prefix-filtered similarity join (PPJoin-style, Xiao et al. 2008):
    with shingles globally ordered by ascending document frequency, any
    pair with Jaccard >= t must share a shingle within each side's first
    ``s - ceil(t*s) + 1`` shingles — so only those prefixes enter the
    candidate equi-join, keeping rare shingles and dropping the hot ones
    that make a naive shared-shingle join quadratic. A length filter
    (``t*sa <= sb <= sa/t``) prunes candidates further; survivors are
    verified exactly via sorted-set intersection, JVM-side. At sf0.1 this
    cuts candidate pairs ~3x vs the naive join; at 100 TB the gap grows
    with corpus repetition. MinHash+LSH (minhash_lsh_pairs) is the
    approximate alternative when even prefix joins are too wide.

    ``b_side_ids`` (optional, one ``id_col`` column) restricts the
    HIGHER-id side of each emitted pair: only pairs whose ``doc_b`` is
    in the set are produced. Prefix ordering, document frequencies, and
    the a-side stay global, so the restricted output is exactly the
    subset of the unrestricted output with ``doc_b`` ∈ the set — the
    delta-bounded join the incremental curation pass runs (candidates
    explode only for delta docs; the retained corpus is probe-side).

    ``shingle_rel`` (optional, columns ``doc_id``/``shingle_h``) skips
    the tokenize→shingle→hash pass entirely and feeds the join from a
    PRECOMPUTED shingle relation — the persisted shingle index an
    incremental corpus pipeline maintains alongside its manifest, so
    the probe (retained) side is a pure parquet read instead of an
    O(|corpus|) re-shingle every day. Must be produced by
    ``shingle_relation`` (same tokenizer/k/hash) for identical output.
    """
    sh = (
        shingle_rel
        if shingle_rel is not None
        else shingle_relation(docs, k=k, text_col=text_col, id_col=id_col)
    )
    # COUNT-AWARE join strategy (round 8): shuffled-hash joins build an
    # in-memory hash relation per partition and CANNOT spill — at the
    # 100x replica (500k docs, densified shingles) the build side
    # outgrew the task memory grant and the query died with "Can't
    # acquire ... bytes to build hash relation". Below the threshold
    # SHJ keeps the measured ReuseExchange win (see below); above it
    # the same exchanges feed spill-safe sort-merge joins — the same
    # auto-sizing discipline as the LSH/IVF/PQ layouts, applied to the
    # join algorithm itself. 10x (50k docs) is measured fine under SHJ;
    # the cap sits 2x above that.
    jhint = (
        "shuffle_hash" if docs.count() < NGRAM_SHJ_MAX_DOCS else "merge"
    )
    # global document frequency orders the prefix (rarest first).
    # groupBy + shuffle_hash self-join (round 2, replacing the r1
    # count-over-window): the partial aggregation map-side-combines, so
    # the docfreq shuffle carries one row per distinct shingle per map
    # task instead of the full occurrence multiset, and because BOTH join
    # branches hash-exchange on shingle_h, ReuseExchange runs the
    # tokenize/shingle pipeline once (a broadcast build side would re-run
    # it — measured ~35% slower at sf0.1; plain sort-merge was ~40%
    # slower in r1). Unlike the window variant this has NO hot-key
    # single-partition sort: a pathologically frequent shingle is
    # combined map-side and lands as one row per task.
    docfreq = (
        sh.groupBy("shingle_h")
        .agg(F.count(F.lit(1)).alias("df"))
        .hint(jhint)
    )
    ranked = sh.join(docfreq, "shingle_h").select(
        "doc_id",
        "shingle_h",
        F.struct("df", "shingle_h").alias("_ord"),
    )
    by_doc = ranked.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("_ord")).alias("_sorted"),
        F.count(F.lit(1)).alias("set_size"),
    )
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.lit(threshold) * F.col("set_size")).cast("long")
        + F.lit(1)
    )
    # prefix rows carry the doc's full hash set so candidates verify
    # inline in the join — no pair-distinct + re-join round trips. Fine
    # while shingle sets are modest (~50/doc here; ~s*(1-t) prefix rows x
    # 8s bytes each). For very long documents, cap the set upstream or
    # switch to minhash_lsh_pairs.
    prefix = by_doc.select(
        "doc_id",
        "set_size",
        F.transform(F.col("_sorted"), lambda s: s["shingle_h"]).alias(
            "hashes"
        ),
        F.explode(
            F.transform(
                F.slice(F.col("_sorted"), F.lit(1), prefix_len),
                lambda s: s["shingle_h"],
            )
        ).alias("shingle_h"),
    )
    # shuffle_hash (not the default broadcast at small SF): with both
    # sides shuffled identically on shingle_h, Spark's ReuseExchange
    # computes the prefix pipeline ONCE — a broadcast build side would
    # re-run tokenize/shingle/docfreq on each branch of the self-join
    # (measured ~30% slower at sf0.1). At cluster scale a broadcast of
    # the corpus-wide prefix set is impossible anyway.
    if b_side_ids is not None:
        # semi-join, no broadcast hint: a day's delta id set can be
        # arbitrarily large; AQE picks broadcast when it actually fits.
        b_src = prefix.join(
            b_side_ids.select(F.col(id_col).alias("doc_id")),
            "doc_id",
            "left_semi",
        ).hint(jhint)
    else:
        b_src = prefix.hint(jhint)
    a = prefix.hint(jhint).alias("a")
    b = b_src.alias("b")
    return (
        a.join(b, F.col("a.shingle_h") == F.col("b.shingle_h"))
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: Jaccard >= t needs t*sa <= sb <= sa/t
            & (F.col("b.set_size") * threshold <= F.col("a.set_size"))
            & (F.col("a.set_size") * threshold <= F.col("b.set_size"))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.size(
                F.array_intersect(F.col("a.hashes"), F.col("b.hashes"))
            ).alias("shared"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                / (F.col("size_a") + F.col("size_b") - F.col("shared")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# --- query registry entries -------------------------------------------------

def q_dup_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return duplicate_scores(docs).orderBy("doc_id")


def q_dup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_summary(docs)


def q_exact_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        exact_duplicates(docs)
        .select("content_hash", "group_size", "keeper_id")
        .orderBy("content_hash")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5)


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = SHINGLE_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination check: for each benchmark document, which
    corpus documents share at least one k-shingle with it.

    The decontamination primitive of training-data pipelines (strip
    eval-set overlap before training). Exact n-gram membership — one
    distinct-shingle explode per side and one equi-join on the shingle
    hash. The benchmark side is tiny by definition, so Spark broadcasts
    it: the corpus-side pipeline streams once with NO shuffle of the
    fact table. Output: (bench_id, n_contaminated, max_shared) — count
    of distinct contaminating docs and the largest shared-shingle count.
    """
    def distinct_shingles(df: DataFrame, out_id: str) -> DataFrame:
        tk = df.select(
            F.col(id_col).alias(out_id), tokenize(F.col(text_col)).alias("_t")
        )
        return tk.select(
            out_id,
            F.explode(F.array_distinct(shingles(F.col("_t"), k))).alias(
                "shingle"
            ),
        ).select(out_id, F.xxhash64("shingle").alias("shingle_h"))

    corp = distinct_shingles(docs, "doc_id")
    bench = distinct_shingles(benchmark, "bench_id")
    hits = (
        corp.join(F.broadcast(bench), "shingle_h")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("bench_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        hits.groupBy("bench_id")
        .agg(
            F.count(F.lit(1)).alias("n_contaminated"),
            F.max("shared").alias("max_shared"),
        )
        .orderBy("bench_id")
    )


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination of the corpus against a held-out 'benchmark' slice
    (every 97th document stands in for an eval set)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return benchmark_contamination(docs, bench)


def match_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Connected components of a match graph in one task: every id that
    appears in a pair gets ``cluster_id`` = the smallest id reachable
    from it — the same labels as :func:`connected_components`, for
    graphs whose long chains would cost that loop one round of Spark
    jobs per hop. Pairs with a null endpoint link nothing.

    One grouped-map task over the raw pair columns: both endpoints are
    factorized with ``sort=True`` (code order = id order; for strings
    that is code-point order, which equals Spark's and DuckDB's UTF-8
    byte order), then Shiloach-Vishkin hook-and-shortcut runs in numpy
    until no edge joins two labels. Hook: each root touching a smaller
    root points at the smallest such root. Shortcut: ``lab = lab[lab]``
    until every tree is a star. Every hooking round merges trees, so
    the loop ends; each root is its component's smallest code.

    Scale shape: the task holds the E pairs, two int64 code arrays of
    length E and the distinct ids, so E is bounded by one Python
    worker's memory; the golden-record graphs are far below that.
    """
    # imported here: the CLI's scorer imports this module without pandas
    import numpy as np
    import pandas as pd

    id_type = pairs.schema[a_col].dataType
    schema = StructType(
        [StructField("doc_id", id_type), StructField("cluster_id", id_type)]
    )

    # nested, so the worker gets it by value and needs no package import
    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        ends = np.concatenate([pdf["a"].to_numpy(), pdf["b"].to_numpy()])
        codes, uniq = pd.factorize(ends, sort=True)
        u, v = np.split(codes, 2)
        lab = np.arange(len(uniq))
        while True:
            lu, lv = lab[u], lab[v]
            cross = lu != lv
            if not cross.any():
                break
            lu, lv = lu[cross], lv[cross]
            np.minimum.at(lab, np.maximum(lu, lv), np.minimum(lu, lv))
            while not np.array_equal(lab[lab], lab):
                lab = lab[lab]
        return pd.DataFrame({"doc_id": uniq, "cluster_id": uniq[lab]})

    return (
        pairs.select(
            F.col(a_col).alias("a"), F.col(b_col).cast(id_type).alias("b")
        )
        .dropna()
        .groupBy(F.lit(0).alias("_g"))
        .applyInPandas(solve, schema=schema)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every doc
    that appears in a pair gets a ``cluster_id`` = the smallest doc id
    reachable from it. The step dedup pipelines need between "pairs"
    and "keep one per group": transitive closure turns pairwise matches
    into dedup groups (A~B, B~C => {A,B,C} even though A,C never paired).

    Min-label propagation: each node starts labeled with itself; every
    round each node takes the min of its own and its neighbors' labels.
    Converges in O(graph diameter) rounds — near-dup clusters are
    near-cliques (diameter 2-3), so 3-4 joins in practice; each round is
    one distributed join + groupBy keyed on node id, and the
    convergence check is a LIMIT 1 anti-equality probe, not a collect.
    Each round materializes its labels via ``localCheckpoint`` —
    ``persist`` alone is NOT enough: the plan references ``labels``
    three times per round, so uncut lineage grows ~3^rounds. Raises
    ``RuntimeError`` when labels still move after ``max_rounds`` rounds
    rather than return unconverged labels. Graphs with long chains (the
    golden-record name graphs) go to :func:`match_components` instead,
    which solves the whole graph in one task.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nlabel", "label")
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") < F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "connected_components: labels still changed after "
            f"max_rounds={max_rounds} rounds"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components of the exact
    n-gram-Jaccard pair graph at threshold 0.5; cluster id = min doc id
    in the component (the keeper a dedup pass would retain)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    return connected_components(pairs).orderBy("doc_id")


def span_flags(
    docs: DataFrame,
    span_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    seen_hashes: DataFrame | None = None,
) -> DataFrame:
    """Exact-substring (span-level) dedup, Lee et al. 2022 shape —
    per-span keep/remove flags (``span_dedup`` aggregates them to the
    per-doc manifest).

    Deduplicating Training Data Makes Language Models Better removes
    *repeated substrings* rather than whole documents: a doc that quotes
    fifty tokens of another doc keeps its unique prose and loses only
    the quoted span. The suffix-array construction of the paper is not
    relational; the industrial approximation (used by Dolma's paragraph
    dedup and SlimPajama) is to cut each document into fixed-width,
    non-overlapping token spans, hash each span, and keep only the
    globally FIRST occurrence of every span hash (stream order =
    (doc_id, span_idx), matching the corpus-order semantics of the
    reference's check-then-insert duplicate detector,
    streaming/detectors/duplicate_detector.py:44-61).

    Plan: split -> bounded slice fanout (ceil(n/W) spans per doc, ~1/W of
    the exploded-token row count) -> ONE shuffle on the 128-bit span hash
    for the first-occurrence window -> ONE shuffle back on doc_id to
    reassemble. No self-join, no quadratic term anywhere: at 100 TB the
    span relation is smaller than the corpus itself and both exchanges
    hash-partition on high-cardinality keys.

    Returns one row per (doc_id, span_idx): span text, hash, and
    ``kept`` — 1 iff this occurrence is the globally first for its hash
    in (doc_id, span_idx) order AND, when ``seen_hashes`` (a relation
    with column ``span_h``) is given, the hash was never seen before.
    ``seen_hashes`` is what makes the operator incrementally
    maintainable: the streaming curation twin feeds the persisted
    span-hash index, so a crawl batch decides its spans against history
    WITHOUT rescanning it — id-monotone arrival order makes the
    arrival-time decision equal the full-corpus rerun's (a first
    occurrence can never be stolen by a later doc). The newly-claimed
    hashes a batch must append to the index are exactly its kept
    spans' distinct hashes.
    """
    toks = F.when(
        F.length(F.col(text_col)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.col(text_col), " "))
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("_toks")
    ).select(
        "doc_id",
        "_toks",
        F.ceil(F.size("_toks") / F.lit(float(span_tokens)))
        .cast("long")
        .alias("_n_spans"),
    )
    # sequence(0, n-1) is DESCENDING for n == 0 in Spark — guard it.
    spans = base.select(
        "doc_id",
        F.posexplode(
            F.when(F.col("_n_spans") > 0,
                   F.sequence(F.lit(0), F.col("_n_spans") - 1))
            .otherwise(F.array().cast("array<long>"))
        ).alias("span_idx", "_i"),
        F.col("_toks"),
    ).select(
        "doc_id",
        "span_idx",
        F.array_join(
            F.slice(
                "_toks",
                (F.col("span_idx") * span_tokens + 1).cast("int"),
                span_tokens,
            ),
            " ",
        ).alias("span_text"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5("span_text")).orderBy("doc_id", "span_idx")
    flagged = spans.withColumn("_rn", F.row_number().over(w)).withColumn(
        "span_h", F.md5("span_text")
    )
    if seen_hashes is None:
        kept = F.col("_rn") == 1
    else:
        # a hash already claimed by history removes every occurrence;
        # otherwise first-in-input order wins, exactly as in the
        # full-corpus window (id-monotone arrival ⇒ same decisions)
        seen = seen_hashes.select("span_h").distinct().withColumn(
            "_seen", F.lit(1)
        )
        flagged = flagged.join(seen, "span_h", "left")
        kept = (F.col("_rn") == 1) & F.col("_seen").isNull()
    return flagged.select(
        "doc_id",
        "span_idx",
        "span_text",
        "span_h",
        kept.cast("int").alias("kept"),
    )


def span_stats_from_flags(flags: DataFrame) -> DataFrame:
    """Aggregate ``span_flags`` rows to ``span_dedup``'s per-doc
    manifest: span counts, md5 of the rebuilt (kept-spans-only) text,
    kept token count."""
    return flags.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("kept").cast("long")).alias("kept_spans"),
        F.sum((F.col("kept") == 0).cast("long")).alias("removed_spans"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept") == 1,
                                F.struct("span_idx", "span_text"),
                            )
                        )
                    ),
                    lambda s: s["span_text"],
                ),
                " ",
            )
        ).alias("clean_hash"),
        F.sum(
            F.when(
                F.col("kept") == 1,
                F.size(F.split("span_text", " ")),
            ).otherwise(F.lit(0))
        ).alias("kept_tokens"),
    )


def span_dedup(
    docs: DataFrame,
    span_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring (span-level) dedup manifest — see ``span_flags``
    for the algorithm and scale notes; this is its per-doc aggregation
    over the whole corpus in one pass."""
    return span_stats_from_flags(
        span_flags(docs, span_tokens, id_col, text_col)
    )


def q_doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup over the corpus: per-doc span
    accounting plus an md5 attestation of the rebuilt text."""
    docs = load_table(spark, sf_dir, "documents")
    return span_dedup(docs, span_tokens=16).orderBy("doc_id")


# --- sorted-neighborhood method (merge/purge) -------------------------------

def _snm_key_proxy(key: Column) -> Column:
    """Monotone numeric proxy of an ASCII sort key: the first 7 bytes as
    a big-endian integer (first 14 hex digits of the UTF-8 byte string,
    so multibyte text can never overflow the bigint). Lexicographic
    byte order on strings is exactly numeric order on this proxy, so
    quantile-bucketing the proxy (plans/ordering.with_global_position
    needs a numeric order column) partitions the TRUE key order;
    within-bucket windows then order by the full key. Empty keys map to
    0 (sorts first, like '')."""
    h = F.conv(F.substring(F.hex(key), 1, 14), 16, 10).cast("bigint")
    return F.coalesce(h, F.lit(0))


def snm_pairs(
    docs: DataFrame,
    key: Column,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate pairs by the sorted-neighborhood method (Hernández &
    Stolfo, SIGMOD '95 merge/purge): sort the corpus by a blocking key,
    slide a fixed window of ``window`` successors over the sorted order,
    and emit every (earlier, later) pair inside the window.

    No Spark built-in sorts-then-slides without a global window; the
    scale-correct plan is the repo's bucketed two-phase global position
    (one quantile pass + per-bucket windows, plans/ordering.py) followed
    by an EQUI-join of each row's exploded successor positions — a plain
    hash shuffle producing exactly n*window candidates, never a per-key
    cross product and never a single-partition sort. This is the linear
    alternative when similarity structure lives in a sort key rather
    than in set overlap (ngram_jaccard_pairs) or hash buckets
    (minhash/simhash/LSH).

    Returns (pos_a, pos_b implicit) candidate pairs with both ids and
    both token sets; callers verify with an exact measure. The reference
    has no near-dup join at all (its A10 duplicate scoring is exact
    check-then-insert, duplicate_detection.py); this family is part of
    the training-data curation surface, not a port.
    """
    from bigdataminingproject_spark.plans.ordering import (
        with_global_position,
    )

    keyed = docs.select(
        F.col(id_col).alias("doc_id"),
        key.alias("_key"),
        F.array_sort(F.array_distinct(tokenize(F.col(text_col)))).alias(
            "_toks"
        ),
    ).withColumn("_kp", _snm_key_proxy(F.col("_key")))
    pos = with_global_position(
        keyed, "_kp", tiebreakers=[F.col("_key"), F.col("doc_id")],
        pos_col="rn",
    ).select("doc_id", "_toks", "rn")
    left = pos.select(
        F.col("doc_id").alias("doc_a"),
        F.col("_toks").alias("_toks_a"),
        F.col("rn").alias("rn_a"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + window)
        ).alias("rn_b"),
    )
    right = pos.select(
        F.col("doc_id").alias("doc_b"),
        F.col("_toks").alias("_toks_b"),
        F.col("rn").alias("rn_b"),
    )
    return left.join(right, "rn_b").select(
        "doc_a", "doc_b", "_toks_a", "_toks_b"
    )


def q_doc_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood near-dup: two blocking keys (the
    classic fix for SNM's key sensitivity) — the first 24 chars of the
    sorted distinct-token concatenation (token-set near-dups sort
    adjacent regardless of word order) and of the raw normalized text
    (prefix near-dups) — candidates unioned, then verified with exact
    token-set Jaccard >= 0.5. Output is verified pairs labeled by id
    order with the exact similarity."""
    docs = load_table(spark, sf_dir, "documents")
    key_sorted = F.substring(
        F.concat_ws(
            "", F.array_sort(F.array_distinct(tokenize(F.col("text"))))
        ),
        1,
        24,
    )
    key_prefix = F.substring(
        F.concat_ws("", tokenize(F.col("text"))), 1, 24
    )
    cands = snm_pairs(docs, key_sorted, window=5).unionByName(
        snm_pairs(docs, key_prefix, window=5)
    )
    # canonical id order + dedup across passes, then exact verification
    pairs = (
        cands.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            F.when(F.col("doc_a") < F.col("doc_b"), F.col("_toks_a"))
            .otherwise(F.col("_toks_b"))
            .alias("_ta"),
            F.when(F.col("doc_a") < F.col("doc_b"), F.col("_toks_b"))
            .otherwise(F.col("_toks_a"))
            .alias("_tb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn(
            "_shared", F.size(F.array_intersect("_ta", "_tb"))
        )
        .withColumn(
            "_union",
            F.size("_ta") + F.size("_tb") - F.col("_shared"),
        )
        .filter(F.col("_union") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("_shared").cast("double") / F.col("_union"), 4
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    return pairs.select("doc_a", "doc_b", "jaccard").orderBy(
        "doc_a", "doc_b"
    )
