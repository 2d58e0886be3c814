"""Q-digest mergeable quantile sketch — the quantile member of the
sketch family (Bloom/CMS/DGIM are the reference's surface,
streaming/algorithms/*.py; KMV, Misra-Gries, HLL and this module are
the north-star extensions beyond it).

The existing bounded-memory quantile operators
(``sketches.histogram_quantiles``) need a min/max pre-pass and a fixed
bin width, so two batches with different ranges cannot be merged. The
q-digest (Shrivastava, Buragohain, Agrawal, Suri — SenSys'04) fixes
both: it is built over a FIXED dyadic domain in a single pass, its
size is O(k log U) independent of n, and two digests merge by summing
node counts — which is exactly the shape the LSM state store folds.

This is a deterministic single-sweep variant of the SenSys'04
compression: leaves hold the quantized value counts; sweeping levels
bottom-up, each sibling group is pushed up into its parent while the
parent subtree's pending mass stays below ``tau = max(1, floor(n/k))``
and is emitted into the digest (frozen) the moment it reaches ``tau``.
Every emitted node therefore carries < 2*tau mass spanning 2^level
leaves, giving the classic rank-error bound <= L * tau ~ n * L / k
(L = QD_BITS levels) while the digest stays O(k) nodes per level.

Determinism contract (what makes a DuckDB oracle possible):

- the fixed-point envelope is [QD_LO, QD_HI) = [0, 512) split into
  2^16 leaves, so the quantization scale (2^7) and its inverse (2^-7)
  are POWERS OF TWO: ``floor(value * 128.0)`` and ``ub * 0.0078125``
  are exact IEEE-double operations, identical in both engines;
- the sweep is pure set arithmetic (per-level sibling sums and a
  threshold split) — no randomness, no ordering dependence;
- the quantile traversal orders digest nodes by (leaf upper bound,
  level) — unique by construction — and reports the upper edge of the
  first node whose cumulative mass reaches ``q * n``.

Scale shape: one shuffle builds the leaf counters (bounded at 2^16
rows regardless of n); the QD_BITS-level sweep then runs as ONE
grouped-map task over them (numpy; at most 2^17 rows over all levels),
with ``n`` and ``tau`` derived inside that task. At this size per-level
Spark rounds buy nothing but per-job overhead. The traversal reads
``n`` and the node count off the digest in the same plan, so a batch
query runs no eager action. The streaming twin folds the leaf counters
(exactly additive, domain-bounded state) and runs the identical sweep
at publish time, so k micro-batch folds land bit-exactly on the batch
digest.

No reference counterpart (the reference has no quantile operator at
all); family parity note at operators/sketches.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QD_BITS = 16  # dyadic levels; domain = 2^16 leaves
QD_LEAVES = 1 << QD_BITS
QD_LO = 0.0
QD_HI = 512.0  # fixed-point envelope for events.value (values clamp)
QD_SCALE = 128.0  # (QD_LEAVES / (QD_HI - QD_LO)) == 2^7 — exact double
QD_INV = 0.0078125  # 2^-7 — exact double
QD_K = 2048  # compression factor: rank error <= QD_BITS * n / QD_K
QD_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


def quantize_leaves(df: DataFrame, col: str) -> DataFrame:
    """Leaf counters (idx, c) for the fixed-point domain: one shuffle,
    <= 2^16 output rows no matter how large ``df`` is. This relation is
    also the streaming twin's mergeable partial (fold = sum per idx)."""
    idx = F.least(
        F.lit(QD_LEAVES - 1),
        F.greatest(
            F.lit(0),
            F.floor(F.col(col) * F.lit(QD_SCALE)).cast("bigint"),
        ),
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(idx.alias("idx"))
        .groupBy("idx")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def fold_leaf_partials(parts: DataFrame) -> DataFrame:
    """N-ary merge of leaf-counter partials: sum per leaf. Exact by
    counter additivity; every LSM level stays <= 2^16 rows — the
    ``merge_transform`` of the streaming twin's state store."""
    return parts.groupBy("idx").agg(F.sum("c").alias("c"))


def qdigest_from_leaves(leaves: DataFrame) -> DataFrame:
    """The bottom-up compression sweep, as one grouped-map task over
    the whole (<= 2^16-row) leaf relation.

    ``tau = max(1, n // QD_K)`` with ``n = sum(c)``. Per level: siblings
    (rows sharing ``idx >> 1``) whose summed subtree mass ``s`` is still
    < ``tau`` merge into their parent and keep climbing; the moment a
    parent subtree reaches ``tau`` its children freeze into the digest
    at their current level. Whatever survives to the root is emitted
    at level QD_BITS. Returns (level, idx, c) digest nodes; empty
    leaves give an empty digest.
    """

    # nested, so the worker gets it by value and needs no package import
    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["idx"].to_numpy(), kind="stable")
        idx = pdf["idx"].to_numpy(np.int64)[order]
        c = pdf["c"].to_numpy(np.int64)[order]
        tau = max(1, int(c.sum()) // QD_K)
        nodes = []
        for lvl in range(QD_BITS):
            up, first, parent = np.unique(
                idx >> 1, return_index=True, return_inverse=True
            )
            s = np.add.reduceat(c, first)  # idx sorted: siblings adjacent
            hot = s[parent] >= tau
            nodes.append(
                pd.DataFrame({"level": lvl, "idx": idx[hot], "c": c[hot]})
            )
            idx, c = up[s < tau], s[s < tau]
        nodes.append(pd.DataFrame({"level": QD_BITS, "idx": idx, "c": c}))
        return pd.concat(nodes)

    return (
        leaves.select("idx", "c")
        .groupBy(F.lit(0).alias("_g"))
        .applyInPandas(sweep, schema="level int, idx bigint, c bigint")
    )


def qdigest_quantiles(
    spark: SparkSession,
    digest: DataFrame,
    qs: tuple[float, ...] = QD_QS,
) -> DataFrame:
    """Quantile answers from a digest: order nodes by (leaf upper
    bound, level), cumulative-sum the mass, and report the upper edge
    of the first node reaching ``q * n``. ``n`` (the digest's total
    mass) and the node count come from the same single-partition
    window, which the O(k log U)-row digest keeps bounded. An empty
    digest gives an empty answer."""
    ub = (
        (F.col("idx") + F.lit(1))
        * F.expr("shiftleft(CAST(1 AS BIGINT), level)")
        - F.lit(1)
    ).alias("ub")
    w = Window.orderBy("ub", "level")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = digest.select("level", "idx", "c", ub).select(
        "ub",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(whole).alias("n_events"),
        F.count(F.lit(1)).over(whole).alias("digest_nodes"),
    )
    qdf = spark.createDataFrame([(float(q),) for q in qs], "quantile double")
    hits = (
        F.broadcast(qdf)
        .join(
            ranked,
            F.col("cum")
            >= F.col("quantile") * F.col("n_events").cast("double"),
        )
        .groupBy("quantile", "digest_nodes", "n_events")
        .agg(F.min("ub").alias("ub"))
    )
    return hits.select(
        "quantile",
        F.round((F.col("ub") + F.lit(1)) * F.lit(QD_INV), 6).alias("estimate"),
        "digest_nodes",
        "n_events",
    ).orderBy("quantile")


def q_events_qdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p25..p99 of the event value column via the q-digest sketch:
    quantize -> bounded leaf counters -> one-task compression sweep ->
    bounded traversal. One lazy plan that collects no scalar first; an
    event table with no values gives an empty answer."""
    from bigdataminingproject_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    digest = qdigest_from_leaves(quantize_leaves(ev, "value"))
    return qdigest_quantiles(spark, digest, QD_QS)


def qdigest_oracle_sql(qs: tuple[float, ...] = QD_QS) -> str:
    """DuckDB mirror of the full pipeline: same quantization, the same
    QD_BITS-level sweep unrolled as CTEs, the same traversal — the
    generator lives next to the operator so the two sides cannot
    drift (the BPE unrolled-CTE pattern, operators/bpe.py)."""
    q_list = ", ".join(str(float(q)) for q in qs)
    return (
        _digest_cte_chain()
        + f""",
sz AS (SELECT COUNT(*) AS digest_nodes FROM digest),
qs AS (SELECT CAST(unnest([{q_list}]) AS DOUBLE) AS quantile),
hits AS (
    SELECT q.quantile, min(r.ub) AS ub
    FROM qs q, ranked r, nn
    WHERE r.cum >= q.quantile * CAST(nn.n AS DOUBLE)
    GROUP BY q.quantile
)
SELECT h.quantile,
       CAST(round((h.ub + 1) * CAST({QD_INV} AS DOUBLE), 6) AS DOUBLE)
           AS estimate,
       sz.digest_nodes, nn.n AS n_events
FROM hits h, sz, nn
ORDER BY quantile"""
    )


def _digest_cte_chain() -> str:
    """The shared WITH chain: quantize -> leaf counts -> the 16-level
    sweep -> ``digest`` (level, idx, c) -> ``ranked`` (+ub, cum).
    Also exposes ``r0`` (the leaf counters) and ``nn`` (n, tau)."""
    parts = [
        f"""
WITH base AS (
    SELECT least({QD_LEAVES - 1}, greatest(0,
               CAST(floor(value * {QD_SCALE}) AS BIGINT))) AS idx
    FROM events WHERE value IS NOT NULL
),
nn AS (
    SELECT COUNT(*) AS n,
           greatest(1, COUNT(*) // {QD_K}) AS tau
    FROM base
),
r0 AS (SELECT idx, COUNT(*) AS c FROM base GROUP BY idx)"""
    ]
    for lvl in range(QD_BITS):
        parts.append(
            f""",
p{lvl} AS (SELECT (idx >> 1) AS idx, SUM(c) AS s
           FROM r{lvl} GROUP BY 1),
e{lvl} AS (SELECT {lvl} AS level, r.idx, r.c
           FROM r{lvl} r JOIN p{lvl} p ON (r.idx >> 1) = p.idx, nn
           WHERE p.s >= nn.tau),
r{lvl + 1} AS (SELECT p.idx, p.s AS c FROM p{lvl} p, nn
               WHERE p.s < nn.tau)"""
        )
    emits = "\n    UNION ALL ".join(
        [f"SELECT level, idx, c FROM e{lvl}" for lvl in range(QD_BITS)]
        + [f"SELECT {QD_BITS} AS level, idx, c FROM r{QD_BITS}"]
    )
    parts.append(
        f""",
digest AS (
    {emits}
),
ranked AS (
    SELECT level, idx, c,
           ((idx + 1) * (CAST(1 AS BIGINT) << level)) - 1 AS ub,
           SUM(c) OVER (
               ORDER BY ((idx + 1) * (CAST(1 AS BIGINT) << level)) - 1,
                        level) AS cum
    FROM digest
)"""
    )
    return "".join(parts)


# leaf-aligned range predicates for the selectivity estimator (every
# endpoint is a multiple of 2^-7, so leaf membership == value
# membership and "exact" can be computed from the leaf counters)
QD_RANGES = (
    (10.0, 50.0),
    (50.0, 100.0),
    (100.0, 250.0),
    (250.0, 512.0),
)


def q_events_range_selectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-predicate selectivity estimation from the q-digest — the
    range-scan half of the optimizer-statistics family
    (``sketches.q_join_size_estimate`` prices equi-joins; this prices
    ``value BETWEEN lo AND hi`` scans from O(k log U) digest state).

    For each leaf-aligned range the digest's rank difference
    ``rank(hi-1) - rank(lo-1)`` (rank(x) = mass of digest nodes with
    ub <= x) estimates the row count; the exact count comes from the
    leaf counters in the same pass. Rank error is bounded by the
    straddling-node mass — <= 2*tau*L per endpoint — so the estimate's
    absolute error is bounded INDEPENDENT of the data distribution,
    the property a cost model needs. All relations after the leaf
    aggregate are digest-sized.
    """
    from bigdataminingproject_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    leaves = quantize_leaves(ev, "value")
    digest = qdigest_from_leaves(leaves)
    ub = (
        (F.col("idx") + F.lit(1))
        * F.expr("shiftleft(CAST(1 AS BIGINT), level)")
        - F.lit(1)
    ).alias("ub")
    dub = digest.select("c", ub)
    rng = spark.createDataFrame(
        [
            (lo, hi, int(lo * QD_SCALE), int(hi * QD_SCALE))
            for lo, hi in QD_RANGES
        ],
        "range_lo double, range_hi double, lo_leaf bigint, hi_leaf bigint",
    )
    est = (
        F.broadcast(rng)
        .crossJoin(dub)
        .groupBy("range_lo", "range_hi", "lo_leaf", "hi_leaf")
        .agg(
            (
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("ub") <= F.col("hi_leaf") - 1,
                            F.col("c"),
                        )
                    ),
                    F.lit(0),
                )
                - F.coalesce(
                    F.sum(
                        F.when(
                            F.col("ub") <= F.col("lo_leaf") - 1,
                            F.col("c"),
                        )
                    ),
                    F.lit(0),
                )
            ).alias("est_rows")
        )
    )
    exact = (
        F.broadcast(rng)
        .crossJoin(leaves)
        .groupBy("range_lo", "range_hi")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("idx") >= F.col("lo_leaf"))
                        & (F.col("idx") < F.col("hi_leaf")),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            ).alias("exact_rows")
        )
    )
    return (
        est.join(exact, ["range_lo", "range_hi"])
        .select(
            "range_lo",
            "range_hi",
            F.col("est_rows").cast("bigint").alias("est_rows"),
            F.col("exact_rows").cast("bigint").alias("exact_rows"),
            F.when(
                F.col("exact_rows") == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.round(
                    (F.col("est_rows") - F.col("exact_rows"))
                    * F.lit(100.0)
                    / F.col("exact_rows"),
                    4,
                )
            )
            .alias("err_pct"),
        )
        .orderBy("range_lo")
    )


def range_selectivity_oracle_sql() -> str:
    """DuckDB mirror sharing the digest CTE chain."""
    vals = ", ".join(
        f"(CAST({lo} AS DOUBLE), CAST({hi} AS DOUBLE), "
        f"{int(lo * QD_SCALE)}, {int(hi * QD_SCALE)})"
        for lo, hi in QD_RANGES
    )
    return (
        _digest_cte_chain()
        + f""",
rng AS (
    SELECT * FROM (VALUES {vals})
        AS t(range_lo, range_hi, lo_leaf, hi_leaf)
),
est AS (
    SELECT g.range_lo, g.range_hi,
           COALESCE(SUM(CASE WHEN r.ub <= g.hi_leaf - 1
                             THEN r.c END), 0)
         - COALESCE(SUM(CASE WHEN r.ub <= g.lo_leaf - 1
                             THEN r.c END), 0) AS est_rows
    FROM rng g, ranked r
    GROUP BY 1, 2
),
ex AS (
    SELECT g.range_lo, g.range_hi,
           COALESCE(SUM(CASE WHEN l.idx >= g.lo_leaf
                              AND l.idx < g.hi_leaf
                             THEN l.c END), 0) AS exact_rows
    FROM rng g, r0 l
    GROUP BY 1, 2
)
SELECT e.range_lo, e.range_hi,
       CAST(e.est_rows AS BIGINT) AS est_rows,
       CAST(x.exact_rows AS BIGINT) AS exact_rows,
       CASE WHEN x.exact_rows = 0 THEN NULL
            ELSE CAST(round((e.est_rows - x.exact_rows) * 100.0
                            / x.exact_rows, 4) AS DOUBLE)
       END AS err_pct
FROM est e
JOIN ex x ON e.range_lo = x.range_lo AND e.range_hi = x.range_hi
ORDER BY e.range_lo"""
    )
