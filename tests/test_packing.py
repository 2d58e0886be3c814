"""Connected-components clustering and sequence packing (round-2
training-pipeline operators; north-star — no reference counterpart)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from bigdataminingproject_spark.operators.dedup import connected_components
from bigdataminingproject_spark.operators.packing import (
    pack_sequences,
    sequence_summary,
)


def _cc_of(spark, pairs):
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    return {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }


def test_cc_single_edge(spark):
    assert _cc_of(spark, [(1, 2)]) == {1: 1, 2: 1}


def test_cc_transitive_chain(spark):
    # A~B, B~C, C~D: one component even though A,D never paired
    got = _cc_of(spark, [(10, 20), (20, 30), (30, 40)])
    assert got == {10: 10, 20: 10, 30: 10, 40: 10}


def test_cc_long_chain_converges(spark):
    # path graph of diameter 9 — needs multiple propagation rounds
    edges = [(i, i + 1) for i in range(9)]
    got = _cc_of(spark, edges)
    assert got == {i: 0 for i in range(10)}


def test_cc_unconverged_raises(spark):
    # a 40-node path needs 39 propagation rounds; 25 must fail loudly
    # instead of returning the partial labels
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="max_rounds=25"):
        connected_components(df, max_rounds=25)


def test_cc_separate_components(spark):
    got = _cc_of(spark, [(1, 2), (5, 6), (6, 7)])
    assert got == {1: 1, 2: 1, 5: 5, 6: 5, 7: 5}


def test_cc_edge_direction_irrelevant(spark):
    # min id appearing on the b-side still becomes the label
    got = _cc_of(spark, [(9, 3), (9, 5)])
    assert got == {3: 3, 9: 3, 5: 3}


def _py_uniform(x) -> float:
    h = hashlib.md5(str(x).encode()).hexdigest()[:8]
    return int(h, 16) / 4294967296.0


def test_pack_sequences_matches_python_model(spark):
    rows = [(i, "tok " * (i % 7 + 1)) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capacity = 16
    got = {
        r["doc_id"]: (r["cum_before"], r["seq_id"])
        for r in pack_sequences(docs, capacity=capacity).collect()
    }
    order = sorted(range(60), key=lambda i: (_py_uniform(i), i))
    cum = 0
    for i in order:
        n = i % 7 + 1
        assert got[i] == (cum, cum // capacity)
        cum += n


def test_pack_layout_independent(spark):
    rows = [(i, "a b c d e") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    one = {tuple(r) for r in pack_sequences(docs, capacity=8).collect()}
    two = {
        tuple(r)
        for r in pack_sequences(docs.repartition(11), capacity=8).collect()
    }
    assert one == two


def test_sequence_summary_conserves_tokens_and_docs(spark):
    rows = [(i, "w " * (i % 5 + 1)) for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sequence_summary(docs, capacity=10).collect()
    assert sum(r["n_docs"] for r in out) == 50
    assert sum(r["n_tokens"] for r in out) == sum(i % 5 + 1 for i in range(50))
    assert sum(r["doc_id_checksum"] for r in out) == sum(range(50))
    # seq ids are dense from 0
    ids = [r["seq_id"] for r in out]
    assert ids == sorted(ids) and ids[0] == 0


def test_empty_docs_get_zero_tokens(spark):
    docs = spark.createDataFrame(
        [(0, ""), (1, "one two three")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_tokens"] for r in pack_sequences(docs).collect()}
    assert got == {0: 0, 1: 3}

