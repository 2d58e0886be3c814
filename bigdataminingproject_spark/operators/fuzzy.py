"""Edit-distance-1 similarity join via deletion-variant blocking
(the SymSpell blocking scheme, Garbe 2012 — public algorithm): two
strings are within Levenshtein distance 1 iff they share a member of
each other's {identity + all single-character deletions} set, so the
candidate generation is an EQUI-join on a derived key instead of a
quadratic all-pairs comparison.

Record-linkage / entity-resolution family (north-star): vocabulary
typo mining, near-identical identifier detection ("Customer#...001"
vs "...002" = likely duplicate data entry), fuzzy key matching —
none of which the reference covers (its dedup is whole-message
shingle overlap, `duplicate_detector.py`).

Scale shape: each term of length L fans out to L+1 variant rows — a
LINEAR blow-up, not quadratic — and the self-join key (the variant
string) is high-cardinality and near-uniform, so the shuffle
distributes. Per-variant groups are tiny (collisions only among true
neighbors), and the verify step is pure positional arithmetic on the
join output (see ``fuzzy_pairs``) — no per-candidate edit-distance
DP. This is the standard scalable shape for fuzzy joins; a quadratic
crossJoin-plus-filter would be the wrong plan at any scale.

Parity: everything is exact string arithmetic + integer counts; both
engines implement the same Levenshtein definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataminingproject_spark.sources.tables import load_table

# transform(sequence(0, len), i): i=0 keeps the identity, i>=1 deletes
# character i. Single expression -> stays in whole-stage codegen.
_VARIANTS = (
    "transform(sequence(0, length({c})), i -> CASE WHEN i = 0 THEN {c} "
    "ELSE concat(substring({c}, 1, i - 1), "
    "substring({c}, i + 1, length({c}))) END)"
)


def deletion_variants(col_name: str) -> F.Column:
    """Array column of the term plus every single-deletion variant."""
    return F.expr(_VARIANTS.format(c=col_name))


def fuzzy_pairs(terms: DataFrame, col: str = "term") -> DataFrame:
    """All unordered pairs of distinct ``col`` values at Levenshtein
    distance exactly 1. Output: term_a < term_b, one row per pair.

    The deletion POSITION rides along with each variant, which turns
    the verify step into pure join-key arithmetic — no edit-distance
    DP at all:

    - both sides deleted the SAME position ``i`` and the variants are
      equal -> the terms differ at exactly position ``i`` (everything
      around it matches), i.e. one substitution: distance exactly 1;
    - one side is the identity (``i = 0``) -> the other term is that
      term plus one inserted character: distance exactly 1;
    - different non-zero positions -> distance can be 2 (e.g. a
      transposition); any true distance-1 pair in this bucket is
      already found through one of the first two, so the bucket is
      dropped whole.

    This prunes the ~3-4x lev-2 candidate inflation BEFORE the pair
    distinct and removes the per-candidate O(len^2) Levenshtein from
    the plan (measured 10 s -> ~3 s at sf0.1 on 15k terms — the DP ran
    on ~1M candidates in an AQE-coalesced single task). The DuckDB
    oracle keeps an independent ``levenshtein(a,b) = 1`` formulation,
    so the position logic is cross-verified per row by the gate.
    """
    base = terms.select(F.col(col).alias("term")).distinct()
    variants = base.select(
        "term",
        F.posexplode(deletion_variants("term")).alias("i", "var"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    return (
        a.join(
            b,
            (F.col("a.var") == F.col("b.var"))
            & (F.col("a.term") < F.col("b.term"))
            & (
                (F.col("a.i") == F.col("b.i"))
                | (F.col("a.i") == 0)
                | (F.col("b.i") == 0)
            ),
        )
        .select(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .distinct()
    )


def fuzzy_match_report(
    terms: DataFrame, col: str = "term", top_n: int = 50
) -> DataFrame:
    """Per-value fuzzy-neighborhood report: for each value, how many
    distance-1 neighbors exist and the lexicographically first one —
    the triage list an entity-resolution pass reviews first. Top
    ``top_n`` by (n_matches desc, value asc).
    """
    pairs = fuzzy_pairs(terms, col)
    sided = pairs.select(
        F.col("term_a").alias("term"), F.col("term_b").alias("partner")
    ).unionByName(
        pairs.select(
            F.col("term_b").alias("term"), F.col("term_a").alias("partner")
        )
    )
    return (
        sided.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("partner").alias("nearest"),
        )
        .orderBy(F.desc("n_matches"), "term")
        .limit(top_n)
    )


def q_customer_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer names one character-edit apart (near-identical
    identifiers = duplicate-entry candidates): top 50 names by
    distance-1 neighbor count."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("term")
    )
    return fuzzy_match_report(cust).withColumnRenamed("term", "c_name")


def q_customer_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — the last stage of the entity-
    resolution pipeline this family now covers end to end: BLOCK
    (deletion-variant key + same nation), MATCH (Levenshtein == 1),
    CLUSTER (connected components labeled by their smallest name,
    solved in one task by ``dedup.match_components``), then SURVIVE:
    one canonical row per multi-member cluster under deterministic
    survivorship rules —

      * cluster_key      = smallest member custkey (stable id),
      * canonical_name   = name of the member with the highest account
                           balance (custkey tiebreak) — "most
                           established record wins",
      * max_acctbal      = the balance that record contributes,
      * top_segment      = modal market segment (count desc, value asc)
                           — field-level survivorship from the member
                           vote, not the winning record,
      * n_members.

    The nation equi-constraint on match pairs is the classic blocking
    key (two "one-digit-apart" identifiers in different nations are
    coincidence, not duplicate entry) and is what keeps components
    entity-sized rather than digit-space-sized. All window work is
    per-cluster (components are typo-neighborhoods, bounded by the
    blocking rule); everything upstream is the linear deletion-variant
    fanout — no all-pairs anywhere. The query is one lazy plan: building
    it runs no Spark job beyond reading the table.
    """
    from pyspark.sql.window import Window

    from bigdataminingproject_spark.operators.dedup import match_components

    cust = load_table(spark, sf_dir, "customer")
    names = cust.select(F.col("c_name").alias("term")).distinct()
    nat = cust.select(
        F.col("c_name").alias("nm"), F.col("c_nationkey").alias("nk")
    )
    pairs = (
        fuzzy_pairs(names)
        .join(
            nat.select(
                F.col("nm").alias("term_a"), F.col("nk").alias("nk_a")
            ),
            "term_a",
        )
        .join(
            nat.select(
                F.col("nm").alias("term_b"), F.col("nk").alias("nk_b")
            ),
            "term_b",
        )
        .filter(F.col("nk_a") == F.col("nk_b"))
        .select("term_a", "term_b")
    )
    # digit-substitution name chains make these components path-like
    # (unlike the near-clique dedup graphs connected_components serves),
    # and propagation pays a round of Spark jobs per hop; the whole
    # match graph is small, so it is solved in one task
    labels = match_components(pairs, "term_a", "term_b").select(
        F.col("doc_id").alias("c_name"), F.col("cluster_id").alias("cl")
    )
    mem = cust.join(labels, "c_name", "left").withColumn(
        "cluster", F.coalesce("cl", "c_name")
    )
    base = (
        mem.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("c_custkey").alias("cluster_key"),
            F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
        )
        .filter(F.col("n_members") >= 2)
    )
    wname = Window.partitionBy("cluster").orderBy(
        F.desc(F.coalesce(F.col("c_acctbal"), F.lit(-1e18))),
        F.asc("c_custkey"),
    )
    canon = (
        mem.withColumn("rn", F.row_number().over(wname))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("c_name").alias("canonical_name"))
    )
    wseg = Window.partitionBy("cluster").orderBy(
        F.desc("seg_n"), F.asc("c_mktsegment")
    )
    seg = (
        mem.groupBy("cluster", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("seg_n"))
        .withColumn("rn", F.row_number().over(wseg))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("c_mktsegment").alias("top_segment"))
    )
    return (
        base.join(canon, "cluster")
        .join(seg, "cluster")
        .select(
            "cluster_key",
            F.col("n_members").cast("bigint").alias("n_members"),
            "canonical_name",
            "max_acctbal",
            "top_segment",
        )
        .orderBy(F.desc("n_members"), "cluster_key")
    )


def golden_record_oracle_sql() -> str:
    """DuckDB mirror of ``q_customer_golden_record``: the fuzzy-match
    CTE (deletion variants + levenshtein verify + nation block),
    min-reachable-node components via a recursive closure, then the
    same survivorship windows."""
    return """
WITH RECURSIVE names AS (SELECT DISTINCT c_name AS term FROM customer),
vars AS (
    SELECT DISTINCT term,
           CASE WHEN i = 0 THEN term
                ELSE substr(term, 1, i - 1) || substr(term, i + 1)
           END AS var
    FROM names, unnest(range(0, len(term) + 1)) AS t(i)
),
cand AS (
    SELECT DISTINCT a.term AS term_a, b.term AS term_b
    FROM vars a JOIN vars b ON a.var = b.var AND a.term < b.term
),
pairs AS MATERIALIZED (
    SELECT term_a, term_b FROM cand c
    JOIN customer ca ON ca.c_name = c.term_a
    JOIN customer cb ON cb.c_name = c.term_b
    WHERE levenshtein(term_a, term_b) = 1
      AND ca.c_nationkey = cb.c_nationkey
),
sym AS MATERIALIZED (
    SELECT term_a AS u, term_b AS v FROM pairs
    UNION ALL
    SELECT term_b AS u, term_a AS v FROM pairs
),
reach(u, v) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM sym)
    UNION
    SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v
),
labels AS (SELECT u AS c_name, min(v) AS cl FROM reach GROUP BY u),
mem AS MATERIALIZED (
    SELECT c.*, coalesce(l.cl, c.c_name) AS cluster
    FROM customer c LEFT JOIN labels l USING (c_name)
),
base AS (
    SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
           min(c_custkey) AS cluster_key,
           round(max(c_acctbal), 2) AS max_acctbal
    FROM mem GROUP BY cluster HAVING count(*) >= 2
),
canon AS (
    SELECT cluster, c_name AS canonical_name
    FROM (
        SELECT cluster, c_name,
               row_number() OVER (
                   PARTITION BY cluster
                   ORDER BY coalesce(c_acctbal, -1e18) DESC,
                            c_custkey ASC) AS rn
        FROM mem
    ) WHERE rn = 1
),
seg AS (
    SELECT cluster, c_mktsegment AS top_segment
    FROM (
        SELECT cluster, c_mktsegment,
               row_number() OVER (
                   PARTITION BY cluster
                   ORDER BY count(*) DESC, c_mktsegment ASC) AS rn
        FROM mem GROUP BY cluster, c_mktsegment
    ) WHERE rn = 1
)
SELECT cluster_key, n_members, canonical_name, max_acctbal, top_segment
FROM base JOIN canon USING (cluster) JOIN seg USING (cluster)
ORDER BY n_members DESC, cluster_key"""
