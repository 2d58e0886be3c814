"""Q-digest mergeable quantile sketch: the one-task sweep against a
plain-Python level loop, mass conservation, the classic rank-error
bound against exact quantiles, fold closure of the leaf counters (the
LSM merge_transform contract), compression, clamping, determinism,
empty input, and twin == batch.

No reference counterpart (north-star sketch family beyond the
reference's bloom/CMS/DGIM surface, operators/sketches.py parity
notes).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdataminingproject_spark.operators.qdigest import (
    QD_BITS,
    QD_K,
    QD_LEAVES,
    QD_QS,
    QD_SCALE,
    fold_leaf_partials,
    qdigest_from_leaves,
    qdigest_quantiles,
    quantize_leaves,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ev(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "value"
    )


@pytest.fixture(scope="module")
def built(spark, ev):
    """One sweep shared by the assertions."""
    leaves = quantize_leaves(ev, "value").localCheckpoint(eager=True)
    n = leaves.agg(F.sum("c")).collect()[0][0]
    tau = max(1, n // QD_K)
    digest = qdigest_from_leaves(leaves).localCheckpoint(eager=True)
    return leaves, int(n), tau, digest


def _reference_digest(leaves):
    """The level loop in plain Python: per level, sibling sums over
    ``idx >> 1``; rows whose sum reaches tau freeze, the rest climb as
    their parents; the survivors are the level-QD_BITS remainder."""
    tau = max(1, sum(c for _, c in leaves) // QD_K)
    rows, out = list(leaves), []
    for lvl in range(QD_BITS):
        s = {}
        for i, c in rows:
            s[i >> 1] = s.get(i >> 1, 0) + c
        out += [(lvl, i, c) for i, c in rows if s[i >> 1] >= tau]
        rows = [(p, c) for p, c in s.items() if c < tau]
    return sorted(out + [(QD_BITS, i, c) for i, c in rows])


def _random_leaves():
    import random

    rnd = random.Random(11)
    idx = rnd.sample(range(QD_LEAVES), 3000)
    return [(i, rnd.choice([1, 1, 2, 3, 40, 900])) for i in idx]


_TAU_ONE = [(0, 1), (1, 3), (7, 2), (40000, 5), (QD_LEAVES - 1, 1)]


@pytest.mark.parametrize(
    "leaves, want",
    [
        # n < 2 * QD_K: tau == 1, so the digest is the leaves at level 0
        (_TAU_ONE, [(0, i, c) for i, c in _TAU_ONE]),
        # all mass in one leaf
        ([(12345, 5 * QD_K)], [(0, 12345, 5 * QD_K)]),
        # one heavy leaf freezes at once; the light ones (8 < tau = 50)
        # never reach tau and climb to the level-QD_BITS root
        (
            [(100, 50 * QD_K), (3, 1), (9000, 2), (33000, 1), (65000, 4)],
            [(0, 100, 50 * QD_K), (QD_BITS, 0, 8)],
        ),
        (_random_leaves(), None),
    ],
    ids=["tau_one", "one_leaf", "sparse_remainder", "random"],
)
def test_sweep_matches_reference_loop(spark, leaves, want):
    df = spark.createDataFrame(leaves, "idx bigint, c bigint")
    got = sorted(tuple(r) for r in qdigest_from_leaves(df).collect())
    assert got == _reference_digest(leaves)
    if want is not None:
        assert got == sorted(want)


def test_mass_conservation(built):
    leaves, n, _tau, digest = built
    assert digest.agg(F.sum("c")).collect()[0][0] == n
    assert leaves.agg(F.sum("c")).collect()[0][0] == n


def test_rank_error_bound(spark, ev, built):
    """Each reported estimate's TRUE rank is within the q-digest bound
    of the target rank: straddling nodes contribute < 2*tau mass per
    level, so |rank(est) - q*n| <= 2 * tau * QD_BITS (+1 for the
    open/closed leaf edge)."""
    leaves, n, tau, digest = built
    out = qdigest_quantiles(spark, digest, QD_QS).collect()
    assert [r["quantile"] for r in out] == sorted(QD_QS)
    leaf_rows = {r["idx"]: r["c"] for r in leaves.collect()}
    bound = 2 * tau * QD_BITS + 1
    for r in out:
        ub = int(round(r["estimate"] * QD_SCALE)) - 1
        true_rank = sum(c for i, c in leaf_rows.items() if i <= ub)
        assert abs(true_rank - r["quantile"] * n) <= bound, (
            r["quantile"],
            true_rank,
            r["quantile"] * n,
            bound,
        )


def test_leaf_fold_is_exact(ev):
    """Counter additivity: per-half leaf partials folded == leaves of
    the whole — the streaming twin's state contract."""
    whole = {
        (r["idx"], r["c"])
        for r in quantize_leaves(ev, "value").collect()
    }
    lo = quantize_leaves(ev.filter(F.col("event_id") % 2 == 0), "value")
    hi = quantize_leaves(ev.filter(F.col("event_id") % 2 == 1), "value")
    folded = {
        (r["idx"], r["c"])
        for r in fold_leaf_partials(lo.unionByName(hi)).collect()
    }
    assert folded == whole


def test_compression_and_node_bound(built):
    """With tau > 1 the digest is strictly smaller than the leaf set,
    and every frozen node's count is < 2*tau (a node is pushed up only
    while its subtree sum < tau, so an emitted sibling pair carries
    < 2*tau; the root remainder is < tau)."""
    leaves, _n, tau, digest = built
    if tau > 1:
        assert digest.count() < leaves.count()
        assert (
            digest.filter(F.col("c") >= 2 * tau).count() == 0
        )


def test_clamping_and_determinism(spark):
    df = spark.createDataFrame(
        [(1, -5.0), (2, 0.0), (3, 511.9), (4, 1000.0), (5, None)],
        "event_id bigint, value double",
    )
    rows = {
        (r["idx"], r["c"])
        for r in quantize_leaves(df, "value").collect()
    }
    # -5 clamps to leaf 0 (with 0.0), 1000 clamps to the top leaf,
    # NULL is dropped
    assert rows == {(0, 2), (65523, 1), (QD_LEAVES - 1, 1)}
    again = {
        (r["idx"], r["c"])
        for r in quantize_leaves(df, "value").collect()
    }
    assert again == rows


def test_range_selectivity_error_bound(spark):
    """The rank-difference estimate's absolute error is bounded by the
    two endpoints' straddling-node mass: <= 2 * (2*tau*QD_BITS)."""
    from bigdataminingproject_spark.operators.qdigest import (
        q_events_range_selectivity,
    )

    out = q_events_range_selectivity(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 4
    n = sum(r["exact_rows"] for r in out)  # ranges cover most rows
    tau = max(1, 1000 // QD_K)
    bound = 2 * (2 * tau * QD_BITS)
    for r in out:
        assert abs(r["est_rows"] - r["exact_rows"]) <= bound


def test_empty_events_give_empty_answer(spark, tmp_path):
    import pyarrow.parquet as pq

    from bigdataminingproject_spark.operators.qdigest import q_events_qdigest

    events = pq.read_table(f"{SF_DIR}/events.parquet")
    pq.write_table(events.slice(0, 0), str(tmp_path / "events.parquet"))
    out = q_events_qdigest(spark, str(tmp_path))
    assert out.collect() == []
    assert out.schema.simpleString() == (
        "struct<quantile:double,estimate:double,digest_nodes:bigint,"
        "n_events:bigint>"
    )


def test_streaming_twin_matches_batch(spark):
    """The twin folds per-batch leaf partials before the same sweep, so
    its answer equals the batch query's row for row."""
    from bigdataminingproject_spark.operators.qdigest import q_events_qdigest
    from bigdataminingproject_spark.streaming.pipeline import (
        q_stream_qdigest_maintenance,
    )

    batch = q_events_qdigest(spark, SF_DIR).collect()
    twin = q_stream_qdigest_maintenance(spark, SF_DIR).collect()
    assert len(batch) == len(QD_QS)
    assert [tuple(r) for r in twin] == [tuple(r) for r in batch]
