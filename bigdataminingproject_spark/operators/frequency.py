"""Frequency / top-k analytics (SURVEY.md §2.4: A2, A7-A9, A12-A13).

The reference bounds memory with a Count-Min Sketch + heap top-k
(frequency_detector.py); on Spark the exact ``groupBy(token).count()``
scales out, map-side-combines, and the top-k lands on
TakeOrderedAndProject — so exact-first, with ``df.stat.countMinSketch``
kept in the sketch parity layer (operators/sketches.py).

Token-multiset semantics are preserved: every occurrence counts, including
repeats within one document (A13, frequency_detector.py:36-40).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdataminingproject_spark.functions.text import remove_stopwords, tokenize
from bigdataminingproject_spark.sources.tables import load_table


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact global token frequencies after reference preprocessing."""
    toks = remove_stopwords(tokenize(F.col(text_col)))
    return (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
    )


def top_k_tokens(df: DataFrame, k: int = 10, text_col: str = "text") -> DataFrame:
    """Top-k tokens by frequency (A7/A8), deterministic tiebreak on token."""
    return token_counts(df, text_col).orderBy(
        F.desc("token_count"), "token"
    ).limit(k)


def estimate_batch(
    df: DataFrame, terms: list[str], text_col: str = "text"
) -> DataFrame:
    """Point/batch frequency query (A9, frequency_detector.py:89-93).

    Terms are lowercased at query time like the reference; unseen terms
    report 0. Query lists are short, so each term is one conditional
    count in a single global aggregate (partial counts per partition,
    one tiny exchange), unpacked into (term, estimate) rows in term
    order: two Spark jobs, where a broadcast join against a term
    relation plus a final sort ran five.
    """
    low = sorted(t.lower() for t in terms)
    if not low:
        return df.sparkSession.createDataFrame(
            [], "term string, estimate long"
        )
    toks = remove_stopwords(tokenize(F.col(text_col)))
    counts = df.select(F.explode(toks).alias("token")).agg(
        *[
            F.count(F.when(F.col("token") == F.lit(t), 1)).alias(f"c{i}")
            for i, t in enumerate(low)
        ]
    )
    return counts.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("term"),
                        F.col(f"c{i}").alias("estimate"),
                    )
                    for i, t in enumerate(low)
                ]
            )
        )
    )


def q_doc_tokens_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens across the documents corpus (reference A7 on docs)."""
    docs = load_table(spark, sf_dir, "documents")
    return top_k_tokens(docs, k=20)


def q_doc_term_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency point-queries incl. an unseen and an uppercase term (A9)."""
    docs = load_table(spark, sf_dir, "documents")
    return estimate_batch(docs, ["spark", "TABLE", "row", "zzz_unseen"])


def q_doc_source_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: top-5 tokens within each source (window rank, O5)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = remove_stopwords(tokenize(F.col("text")))
    counts = (
        docs.select("source", F.explode(toks).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("token_count"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("token_count"), "token")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "token", "token_count", "rnk")
        .orderBy("source", "rnk")
    )


def q_doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 token bigrams over cleaned text (T6 with k=2 on the
    stopword-filtered token stream)."""
    from bigdataminingproject_spark.functions.text import shingles

    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        remove_stopwords(tokenize(F.col("text"))).alias("_toks")
    )
    return (
        tk.select(F.explode(shingles(F.col("_toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("bigram_count"))
        .orderBy(F.desc("bigram_count"), "bigram")
        .limit(15)
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k terms by TF-IDF (smoothed idf).

    score = tf * ln((N+1)/(df+1)), tf = in-doc occurrences after
    reference preprocessing, df = docs containing the term, N = corpus
    size. The classic salient-term extractor for corpus exploration /
    keyword labeling.

    Scale shape: explode -> hash-agg to (doc, term) tf [one shuffle],
    re-agg to term docfreq [second shuffle over the much smaller
    (doc,term) relation], join back on term (vocabulary-sized — Spark
    picks shuffle-hash/SMJ; never driver-side), 1-row N broadcast, then
    a per-doc rank window partitioned on doc_id. No global windows, no
    collect.

    Parity: tf/df/N are exact integers; the only float is the final
    ln(), rounded to 4 dp on BOTH engines BEFORE ranking, so rank order
    is a deterministic function of (rounded score, token) — a 1-ulp
    libm-vs-JVM log difference flips a rank only if a true score sits
    within ~1e-12 of a 0.00005 rounding boundary.
    """
    toks = remove_stopwords(tokenize(F.col(text_col)))
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("n_docs") + F.lit(1.0))
                    / (F.col("df") + F.lit(1.0))
                ),
                4,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "token", "tf", "df", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    )


def q_doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (corpus keyword extraction)."""
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_topk(docs, k=3)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 retrieval: the top-``k`` documents for a bag-of-terms
    query — the lexical-retrieval primitive a training-data pipeline
    uses for targeted corpus search and RAG-index QA.

    score(d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)),
    idf(t) = ln(1 + (N-df+0.5)/(df+0.5))  (Robertson/Sparck Jones).

    Scale shape: ONE token explode -> per-doc length [hash-agg on the
    id] and per-(doc, term) tf RESTRICTED to the query terms (the
    isin filter prunes the explode output to |Q| terms before the
    aggregation); df per query term from the tf relation [tiny]; N and
    avgdl from the doc-length relation [1-row broadcast]. The final
    top-k is orderBy+limit — Spark plans TakeOrdered (per-partition
    heap + driver merge of k rows), never a global sort.

    Parity: tf/df/dl/N are integers; avgdl is one integer division and
    the score's ln/divides are rounded to 4 dp on BOTH engines before
    the (score desc, doc_id) total order cuts the top-k. Derived
    constants (k1+1, 1-b) are computed ENGINE-side from the same
    literals, never in Python — a Python-side k1+1.0 can differ from
    the SQL literal by 1 ulp and shift a score across the rounding
    boundary.
    """
    toks = tokenize(F.col(text_col))
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("token")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        tok.filter(F.col("token").isin(query_terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs")).join(
        dl.agg(F.sum("dl").alias("_tot_dl"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm = F.lit(k1) * (
        (F.lit(1.0) - F.lit(b))
        + F.lit(b) * F.col("dl") * F.col("n_docs") / F.col("_tot_dl")
    )
    contrib = (
        idf
        * F.col("tf")
        * (F.lit(k1) + F.lit(1.0))
        / (F.col("tf") + norm)
    )
    return (
        tf.join(dfreq, "token")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 4).alias("bm25"),
            F.count(F.lit(1)).alias("n_matched_terms"),
            F.max("dl").alias("dl"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(k)
    )


BM25_QUERY_TERMS = ["join", "vector", "stream"]


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for a 3-term query under Okapi BM25."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_QUERY_TERMS, k=20)


PMI_MIN_COUNT = 5


def pmi_collocations(
    docs: DataFrame,
    k: int = 25,
    min_count: int = PMI_MIN_COUNT,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` adjacent-bigram collocations by pointwise mutual
    information — the classic phrase-mining signal (Church & Hanks
    1990) a data pipeline uses to promote multiword expressions to
    single tokens before tokenizer training.

    pmi(a,b) = ln( (c_ab / B) / ((c_a / T) * (c_b / T)) ) with c_ab the
    adjacent-bigram count over stopword-filtered tokens, c_a/c_b the
    unigram counts on the SAME token stream, B/T the bigram/token
    totals. ``min_count`` prunes rare bigrams whose PMI is all variance.

    Scale shape: one tokenizing corpus scan per n-gram order -> two
    hash-aggs; the scalar totals are re-aggregated from those same
    count relations (sum of unigram counts == token total, sum of
    pre-filter bigram counts == bigram total) instead of re-scanning
    the corpus, and AQE's stage reuse materializes each aggregation
    exchange once (ReusedExchange nodes verified in the executed plan).
    The bigram relation joins the unigram counts twice on
    the vocabulary key (never driver-side) and the totals arrive via a
    single 1-row broadcast. The top-k is rounded-then-ranked (round
    BEFORE orderBy, the repo-wide parity rule) and cut with
    TakeOrdered. No windows, no cartesian anything.
    """
    from bigdataminingproject_spark.functions.text import shingles

    toks = remove_stopwords(tokenize(F.col(text_col)))
    tk = docs.select(toks.alias("_toks"))
    uni = (
        tk.select(F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    big_all = (
        tk.select(F.explode(shingles(F.col("_toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    big = (
        big_all.filter(F.col("c_ab") >= min_count)
        .withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
    )
    totals = uni.agg(F.sum("c_w").alias("t_tokens")).join(
        big_all.agg(F.sum("c_ab").alias("t_bigrams"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b"))
    pmi = F.log(
        (F.col("c_ab") / F.col("t_bigrams"))
        / ((F.col("c_a") / F.col("t_tokens")) * (F.col("c_b") / F.col("t_tokens")))
    )
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(totals))
        .select(
            "bigram",
            "c_ab",
            "c_a",
            "c_b",
            F.round(pmi, 4).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(k)
    )


def q_doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 PMI collocations over the documents corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, k=25)


def q_doc_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: token volume, exact distinct count,
    type-token ratio (A12 exact; the HLL variant lives in sketches.py)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = remove_stopwords(tokenize(F.col("text")))
    tok = docs.select(F.explode(toks).alias("token"))
    return tok.agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.count_distinct("token").alias("distinct_tokens"),
        F.round(
            F.count_distinct("token") / F.count(F.lit(1)), 6
        ).alias("type_token_ratio"),
    )


def token_pagerank(
    docs: DataFrame,
    damping: float = 0.85,
    iters: int = 3,
    top_n: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """PageRank over the token co-occurrence graph — the iterative graph
    algorithm of the registry (TextRank, Mihalcea & Tarau 2004: keyword
    salience from adjacency structure rather than raw frequency).

    Graph: nodes = stopword-filtered vocabulary; undirected edges =
    adjacent-token pairs weighted by co-occurrence count (each bigram
    contributes to both directions). Every node of the symmetrized graph
    has out-mass, so there is no dangling-node term.

    Iteration (uniform init 1/N):
        pr'(v) = (1-d)/N + d * sum_u pr(u) * w(u,v) / out_w(u)
    with the in-sum quantized at 10dp before the affine step and the
    result re-quantized at 10dp — the walk stays on engine-identical
    doubles, so a DuckDB CTE chain replays it bit-for-bit.

    Scale shape: the edge relation is vocabulary-sized (quadratic only
    in adjacent-PAIR diversity, not corpus size) and each iteration is
    one broadcast-sized join + hash-agg on the dst key; N reaches the
    driver as a single long. No per-iteration collect of the rank
    vector itself — it stays a DataFrame end to end.
    """
    return pagerank_from_bigram_counts(
        bigram_count_partial(docs, text_col),
        damping=damping,
        iters=iters,
        top_n=top_n,
    )


def bigram_count_partial(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(bigram, c) adjacent-pair counts of a doc set — the mergeable
    partial the streaming PageRank twin appends per micro-batch (each
    delta pays its tokenize once; bigram counts are closed under
    addition, so any fold order rebuilds the exact corpus graph)."""
    from bigdataminingproject_spark.functions.text import shingles

    toks = remove_stopwords(tokenize(F.col(text_col)))
    return (
        docs.select(F.explode(shingles(toks, 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def fold_bigram_counts(parts: DataFrame) -> DataFrame:
    """LSM merge-operator for the PageRank twin: sum bigram counts."""
    return parts.groupBy("bigram").agg(F.sum("c").alias("c"))


def pagerank_from_bigram_counts(
    bgc: DataFrame,
    damping: float = 0.85,
    iters: int = 3,
    top_n: int = 20,
) -> DataFrame:
    """The graph-build + power-iteration half of ``token_pagerank``,
    taking the (bigram, c) count relation so the streaming twin's
    folded state can enter the same publish path."""
    spark = bgc.sparkSession
    bgc = bgc.select(
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("w2"),
        "c",
    )
    edges = (
        bgc.select(F.col("w1").alias("src"), F.col("w2").alias("dst"), "c")
        .unionAll(
            bgc.select(
                F.col("w2").alias("src"), F.col("w1").alias("dst"), "c"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("c").cast("double").alias("w"))
    )
    # Materialize the graph once: edges/out-weights are vocab-sized and
    # every iteration reads them — without this, the lazy lineage
    # re-tokenizes the corpus O(2^iters) times (measured 50 s for 3
    # iterations at sf0.1 vs ~2 s cached). Same practice as GraphX's
    # Pregel loop.
    edges = edges.persist()
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w")).persist()
    n_nodes = outw.count()  # ONE driver long (vocabulary size)
    if n_nodes == 0:
        return spark.createDataFrame(
            [], "token string, pr double, rank int"
        )
    resid = F.lit(1.0) - F.lit(damping)
    pr = outw.select(
        F.col("src").alias("token"),
        F.round(F.lit(1.0) / F.lit(n_nodes), 10).alias("pr"),
    )
    for _ in range(iters):
        contrib = (
            edges.join(pr, edges["src"] == pr["token"])
            .join(outw, "src")
            .groupBy("dst")
            .agg(
                F.round(
                    F.sum(F.col("pr") * F.col("w") / F.col("out_w")), 10
                ).alias("contrib")
            )
        )
        pr = (
            outw.join(contrib, outw["src"] == contrib["dst"], "left")
            .select(
                F.col("src").alias("token"),
                F.round(
                    resid / F.lit(n_nodes)
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0)),
                    10,
                ).alias("pr"),
            )
            # truncate the lineage so iteration t+1's plan doesn't
            # re-execute iterations 1..t once per join reference
            .localCheckpoint(eager=False)
        )
    # TakeOrderedAndProject cut FIRST (distributed top-n over the
    # vocab-sized rank vector), then the rank window runs on top_n rows.
    top = pr.orderBy(F.desc("pr"), F.asc("token")).limit(top_n)
    w = Window.orderBy(F.desc("pr"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w)).orderBy("rank")


def q_token_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by co-occurrence-graph PageRank (3 iterations)."""
    docs = load_table(spark, sf_dir, "documents")
    return token_pagerank(docs, damping=0.85, iters=3, top_n=20)


# ---------------------------------------------------------------------------
# Exact two-pass heavy hitters (Misra-Gries candidates + exact recount)
# ---------------------------------------------------------------------------

# Misra-Gries summary size; publish threshold is ceil(N / HH_S).
# 1024 (not 256) so the scale replicas' alphabet-rotated vocabulary
# stays above threshold at every probe factor: rotations cycle at 26,
# so the replica vocabulary saturates at ~754 near-uniform tokens
# (~N/754 each) from 26x upward — N/1024 keeps the 10x AND 100x
# oracle rows NON-empty, attesting the candidate path rather than
# just the empty-set arithmetic. (Real corpora are Zipfian; the
# skewed-stream pytest pins the selective behavior.)
HH_S = 1024


def mg_candidate_partials(tokens: DataFrame, s: int = HH_S) -> DataFrame:
    """Per-partition Misra-Gries summaries of a ``token`` relation.

    One Arrow-batched ``mapInPandas`` pass; per partition it keeps at
    most ``s`` counters. Each incoming Arrow batch is reduced with
    vectorized ``value_counts`` (an error-free summary of the batch)
    and merged into the running summary by the mergeable-summaries MG
    merge (Agarwal et al., PODS'12): add counts, and if more than ``s``
    keys survive, subtract the (s+1)-th largest count from all and drop
    the non-positive — never a per-row Python loop.

    Guarantee (the one the two-pass exactness proof needs): a token
    with partition frequency f_p is retained unless f_p <= N_p/(s+1),
    where N_p is the partition's token count. Each partition also emits
    one marker row (token NULL, cnt = N_p) so the exact global token
    count N comes out of the same scan.

    Output is at most (s+1) rows per partition: the 100 TB shuffle for
    candidate discovery is P*(s+1) rows no matter how large the corpus
    or its vocabulary is.
    """
    import pandas as pd

    def summarize(batches):
        run: pd.Series | None = None
        total = 0
        for pdf in batches:
            col = pdf["token"]
            total += len(col)
            vc = col.value_counts()  # exact summary of this batch
            run = vc if run is None else run.add(vc, fill_value=0)
            if len(run) > s:
                cut = run.nlargest(s + 1).iloc[-1]
                run = run - cut
                run = run[run > 0]
        out = pd.DataFrame(
            {
                "token": ([] if run is None else list(run.index))
                + [None],
                "cnt": ([] if run is None else [int(v) for v in run])
                + [total],
            }
        )
        yield out

    return tokens.mapInPandas(summarize, "token string, cnt long")


def heavy_hitters(
    df: DataFrame, s: int = HH_S, text_col: str = "text"
) -> DataFrame:
    """EXACT corpus heavy hitters — every token with frequency >=
    ceil(N/s) and its exact count — without ever shuffling the full
    vocabulary.

    The naive plan (`groupBy(token).count()` then filter) shuffles one
    row per distinct token: at 100 TB that is a multi-billion-key
    shuffle to answer a question whose output is at most ``s`` rows.
    This is the classic two-pass instead:

    pass 1  per-partition Misra-Gries summaries (bounded state, map
            side only) -> union of summary supports = candidate set,
            at most P*s tokens. Superset proof: a token with global
            frequency f >= N/s that fell out of EVERY partition summary
            would need f_p <= N_p/(s+1) in each partition p, so
            f = sum f_p <= N/(s+1) < N/s — contradiction.
    pass 2  exact counts of the candidates only: the broadcast semi
            join prunes the token stream BEFORE the shuffle, so the
            aggregation moves candidate rows only.

    The published filter (exact count >= ceil(N/s) > N/(s+1)) makes the
    result deterministic: any token that can pass it is guaranteed to
    be a candidate under ANY partitioning of the input, so the output
    is independent of row order, partition count, and Arrow batch size
    — which is exactly what lets a plain SQL oracle replay it.
    """
    toks = df.select(
        F.explode(remove_stopwords(tokenize(F.col(text_col)))).alias(
            "token"
        )
    )
    # materialize the tiny summary relation (P*(s+1) rows) ONCE: both
    # consumers below (marker-sum N, candidate support) would otherwise
    # re-run the corpus tokenize+summarize scan — PLANS.md showed two
    # MapInPandas scans before this cut
    partials = mg_candidate_partials(toks, s).localCheckpoint(eager=True)
    # bounded: marker rows are one per partition
    n = partials.filter(F.col("token").isNull()).agg(
        F.sum("cnt").alias("n")
    )
    candidates = (
        partials.filter(F.col("token").isNotNull())
        .select("token")
        .distinct()
    )
    exact = (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
    )
    return (
        exact.join(F.broadcast(n))
        # integer ceil-div — exact at any corpus size (a double
        # division would drift past 2^53 tokens; 100 TB is ~2^44)
        .filter(
            F.col("token_count") >= F.expr(f"(n + {s - 1}) div {s}")
        )
        .select("token", "token_count")
        .orderBy(F.desc("token_count"), "token")
    )


def q_doc_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (freq >= N/HH_S) over the documents corpus via
    the two-pass MG-candidates plan."""
    docs = load_table(spark, sf_dir, "documents")
    return heavy_hitters(docs, s=HH_S)


def mg_candidate_partials_by_key(
    tokens: DataFrame, s: int = HH_S
) -> DataFrame:
    """Per-partition, PER-KEY Misra-Gries summaries of a (k, token)
    relation — the keyed generalization of ``mg_candidate_partials``.

    One ``mapInPandas`` pass; per partition the state is one
    s-bounded summary per key seen there (keys x s counters — the
    caller's key column is a bounded set like ``source``). Each Arrow
    batch reduces to exact (key, token) counts vectorized, then merges
    into the per-key summaries; the Python loop is over KEYS, never
    rows. The per-key retention bound is the per-key restriction of
    the global proof: within a partition, a (key, token) with count
    f_p is retained unless f_p <= N_p(key)/(s+1), so any token with
    key-frequency > N(key)/(s+1) survives SOME partition's summary.
    Marker rows (key, token NULL, cnt = N_p(key)) carry each key's
    exact N out of the same scan. The output k field keeps the input
    key column's type (derived from the schema, not hardcoded) so a
    non-string key never round-trips through an implicit cast that
    the later exact-recount join would have to undo.
    """
    import pandas as pd

    k_type = tokens.schema["k"].dataType.simpleString()

    def summarize(batches):
        runs: dict = {}
        totals: dict = {}
        for pdf in batches:
            vc = pdf.groupby(["k", "token"]).size()
            for key, sub in vc.groupby(level=0):
                ser = sub.droplevel(0)
                run = runs.get(key)
                run = ser if run is None else run.add(ser, fill_value=0)
                if len(run) > s:
                    cut = run.nlargest(s + 1).iloc[-1]
                    run = run - cut
                    run = run[run > 0]
                runs[key] = run
            for key, cnt in pdf.groupby("k").size().items():
                totals[key] = totals.get(key, 0) + int(cnt)
        ks, toks_, cnts = [], [], []
        for key, run in runs.items():
            for t, c in run.items():
                ks.append(key)
                toks_.append(t)
                cnts.append(int(c))
        for key, total in totals.items():
            ks.append(key)
            toks_.append(None)
            cnts.append(total)
        yield pd.DataFrame({"k": ks, "token": toks_, "cnt": cnts})

    return tokens.mapInPandas(
        summarize, f"k {k_type}, token string, cnt long"
    )


def grouped_heavy_hitters(
    df: DataFrame,
    key_col: str,
    s: int = HH_S,
    text_col: str = "text",
) -> DataFrame:
    """EXACT per-key heavy hitters — for each key, every token with
    key-frequency >= ceil(N(key)/s) and its exact count — the keyed
    two-pass plan (per-key MG candidates -> exact recount of candidate
    (key, token) pairs only; the integer per-key threshold makes the
    output partitioning-independent, same argument as the global
    operator). The candidate relation is bounded by partitions x keys
    x s, so the semi join is left to the planner (broadcast when it
    fits, shuffle otherwise) instead of forced driver-side."""
    toks = df.select(
        F.col(key_col).alias("k"),
        F.explode(remove_stopwords(tokenize(F.col(text_col)))).alias(
            "token"
        ),
    ).filter(F.col("k").isNotNull())
    partials = mg_candidate_partials_by_key(toks, s).localCheckpoint(
        eager=True
    )
    n = (
        partials.filter(F.col("token").isNull())
        .groupBy("k")
        .agg(F.sum("cnt").alias("n"))
    )
    candidates = (
        partials.filter(F.col("token").isNotNull())
        .select("k", "token")
        .distinct()
    )
    exact = (
        toks.join(candidates, ["k", "token"])
        .groupBy("k", "token")
        .agg(F.count(F.lit(1)).alias("token_count"))
    )
    return (
        exact.join(F.broadcast(n), "k")
        .filter(
            F.col("token_count") >= F.expr(f"(n + {s - 1}) div {s}")
        )
        .select(
            F.col("k").alias(key_col),
            "token",
            "token_count",
        )
        .orderBy(key_col, F.desc("token_count"), "token")
    )


def q_doc_source_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source exact heavy hitters (freq >= N(source)/HH_S) via the
    keyed two-pass MG-candidates plan."""
    docs = load_table(spark, sf_dir, "documents")
    return grouped_heavy_hitters(docs, "source", s=HH_S)


def token_count_partial(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(token, cnt) exact counts of ONE micro-batch's docs — the
    mergeable partial the streaming heavy-hitter twin appends per
    batch. The delta pays its tokenize exactly once; Spark's partial
    aggregation map-side-combines before the vocabulary-sized
    shuffle (which is the DELTA's vocabulary, not the corpus's)."""
    toks = remove_stopwords(tokenize(F.col(text_col)))
    return (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def fold_token_counts(parts: DataFrame) -> DataFrame:
    """Fold (token, cnt) count partials by summation — the LSM
    merge-operator for the streaming heavy-hitter twin. Counts are
    closed under addition, so any fold order lands on the exact batch
    counts."""
    return parts.groupBy("token").agg(F.sum("cnt").alias("cnt"))


def finish_heavy_hitters(state: DataFrame, s: int = HH_S) -> DataFrame:
    """Publish step shared by the streaming twin: exact counts in
    ``state`` -> every token with count >= ceil(N/s), N = sum of all
    counts."""
    folded = fold_token_counts(state)
    n = folded.agg(F.sum("cnt").alias("n"))
    return (
        folded.join(F.broadcast(n))
        .filter(F.col("cnt") >= F.expr(f"(n + {s - 1}) div {s}"))
        .select("token", F.col("cnt").alias("token_count"))
        .orderBy(F.desc("token_count"), "token")
    )
