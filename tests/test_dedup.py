"""Dedup operator semantics against hand-computed oracles (reference A10:
duplicate_detector.py:44-61 check-then-insert, first-occurrence exclusion),
and the one-task match-graph solver behind golden-record clustering."""

from __future__ import annotations

import random
import uuid

import pytest
from pyspark.sql import functions as F

from bigdataminingproject_spark.operators.dedup import (
    connected_components,
    duplicate_scores,
    exact_duplicates,
    match_components,
    ngram_jaccard_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "alpha beta gamma delta"),  # first occurrence — never flagged
        (1, "alpha beta gamma delta"),  # exact repeat → score 1.0
        (2, "alpha beta gamma zeta"),  # shares 'alpha beta gamma' (1 of 2)
        (3, "one two"),  # <3 tokens → no shingles → 0.0
        (4, "totally different words here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_first_occurrence_never_flagged(spark, docs):
    out = {r["doc_id"]: r for r in duplicate_scores(docs).collect()}
    assert out[0]["duplicate_score"] == 0.0
    assert not out[0]["is_duplicate"]


def test_exact_repeat_scores_one(spark, docs):
    out = {r["doc_id"]: r for r in duplicate_scores(docs).collect()}
    assert out[1]["duplicate_score"] == 1.0
    assert out[1]["is_duplicate"]


def test_partial_overlap_below_threshold(spark, docs):
    # doc 2 shingles: 'alpha beta gamma' (seen), 'beta gamma zeta' (new) → 0.5
    out = {r["doc_id"]: r for r in duplicate_scores(docs).collect()}
    assert out[2]["duplicate_score"] == 0.5
    assert not out[2]["is_duplicate"]


def test_short_doc_scores_zero(spark, docs):
    out = {r["doc_id"]: r for r in duplicate_scores(docs).collect()}
    assert out[3]["duplicate_score"] == 0.0


def test_exact_duplicates_groups_normalized(spark):
    rows = [
        (0, "Hello   World"),
        (1, "hello world"),
        (2, "different"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = exact_duplicates(df).collect()
    assert len(groups) == 1
    assert groups[0]["group_size"] == 2
    assert groups[0]["keeper_id"] == 0
    assert groups[0]["member_ids"] == [0, 1]


def test_ngram_jaccard_exact_pair(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical shingle sets
    # docs 0 and 2: share 1 of 3 distinct shingles → 1/3
    assert pairs[(0, 2)] == round(1 / 3, 4)


def _bruteforce_jaccard(rows, threshold, k=3):
    """Python all-pairs oracle with the operator's tokenize/shingle rules."""
    import re

    sets = {}
    for doc_id, text in rows:
        toks = [t for t in re.split(r"[^a-z]+", text.lower()) if t]
        sets[doc_id] = {
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        }
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a]) + len(sets[b]) - inter
            j = round(inter / union, 4)
            if j >= threshold:
                out[(a, b)] = j
    return out


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_ngram_jaccard_prefix_filter_matches_bruteforce(spark, threshold):
    """The prefix+length filter must lose no qualifying pair (PPJoin
    guarantee) on a randomized corpus with heavy shingle sharing."""
    import random

    rng = random.Random(42)
    vocab = ["w%d" % i for i in range(12)]
    rows = []
    for doc_id in range(80):
        n = rng.randint(1, 12)  # includes <k-token docs (empty sets)
        rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=threshold).collect()
    }
    assert got == _bruteforce_jaccard(rows, threshold)


def _labels(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def _random_pairs(rng, ids):
    """A sparse random graph over ``ids``: several components, some of
    them chains, with repeated and reversed pairs."""
    return [
        (rng.choice(ids), rng.choice(ids)) for _ in range(len(ids) * 2 // 3)
    ]


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_match_components_equals_relational_cc(spark, seed, id_type):
    """Row for row the labels of the relational propagation loop, on
    seeded random graphs with integer and string ids."""
    rng = random.Random(seed)
    nums = rng.sample(range(10_000), 60)
    ids = nums if id_type == "bigint" else [f"id{n}" for n in nums]
    pairs = spark.createDataFrame(
        _random_pairs(rng, ids), f"doc_a {id_type}, doc_b {id_type}"
    )
    got = sorted(match_components(pairs).collect())
    want = sorted(connected_components(pairs, max_rounds=100).collect())
    assert got == want
    assert len({r["cluster_id"] for r in got}) > 1


def test_match_components_shuffled_path_converges(spark):
    """A 10k-node path whose ids are shuffled along it: one component,
    labeled by its smallest id."""
    order = list(range(10_000))
    random.Random(7).shuffle(order)
    pairs = spark.createDataFrame(
        list(zip(order, order[1:])), "doc_a bigint, doc_b bigint"
    )
    got = _labels(match_components(pairs))
    assert len(got) == 10_000
    assert set(got.values()) == {0}


def test_match_components_self_loops_and_duplicate_pairs(spark):
    pairs = spark.createDataFrame(
        [(1, 1), (2, 3), (3, 2), (2, 3), (5, 5)], "doc_a bigint, doc_b bigint"
    )
    assert _labels(match_components(pairs)) == {1: 1, 2: 2, 3: 2, 5: 5}


def test_match_components_null_endpoints_link_nothing(spark):
    pairs = spark.createDataFrame(
        [(1, None), (None, 2), (3, 4), (4, None), (None, None)],
        "doc_a bigint, doc_b bigint",
    )
    assert _labels(match_components(pairs)) == {3: 3, 4: 3}


def test_match_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "term_a string, term_b string")
    out = match_components(pairs, "term_a", "term_b")
    assert out.columns == ["doc_id", "cluster_id"]
    assert [f.dataType.simpleString() for f in out.schema] == [
        "string",
        "string",
    ]
    assert out.collect() == []


def test_match_components_label_is_spark_min_of_mixed_names(spark):
    """Mixed case, accents and a character outside the BMP: the label is
    the name Spark's own ``min`` picks (binary order: "Z" < "a" < "é",
    and U+FF21 before U+1F600, which UTF-16 order would reverse)."""
    names = ["é", "a", "Z", "b", "\U0001F600", "\uFF21"]
    pairs = spark.createDataFrame(
        [("é", "a"), ("a", "Z"), ("b", "é"), ("\U0001F600", "\uFF21")],
        "doc_a string, doc_b string",
    )
    got = _labels(match_components(pairs))
    assert set(got) == set(names)
    assert set(got.values()) == {"Z", "\uFF21"}
    want = {
        r["c"]: r["m"]
        for r in spark.createDataFrame(
            [(n, int(n in ("\U0001F600", "\uFF21"))) for n in names],
            "n string, c int",
        )
        .groupBy("c")
        .agg(F.min("n").alias("m"))
        .collect()
    }
    assert got["é"] == want[0] and got["\U0001F600"] == want[1]


def test_connected_components_flatten_handles_long_chains(spark):
    """The one-task solver must converge on a path graph whose diameter
    exceeds the relational loop's round cap — the digit-chain regime
    the golden-record operator runs in."""
    n = 120  # diameter 119 >> max_rounds 25
    df = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n)],
        "doc_a string, doc_b string",
    )
    out = match_components(df)
    labels = {r["cluster_id"] for r in out.collect()}
    assert labels == {"n0000"}  # single component, fully converged


def test_golden_record_matches_oracle(spark, sf_dir):
    """Block, match, cluster, survive: equal to the DuckDB oracle at
    sf0.001, row for row."""
    import duckdb

    from bigdataminingproject_spark.operators.fuzzy import (
        golden_record_oracle_sql,
        q_customer_golden_record,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{sf_dir}/customer.parquet'"
    )
    cur = con.execute(golden_record_oracle_sql())
    want = cur.fetchall()
    df = q_customer_golden_record(spark, sf_dir)
    assert df.columns == [d[0] for d in cur.description]
    got = [tuple(r) for r in df.collect()]
    assert want and sorted(got) == sorted(want)


def test_golden_record_builds_lazily(spark, sf_dir):
    """Building the golden-record DataFrame runs at most one Spark job
    (reading the table); clustering runs inside the final plan."""
    from bigdataminingproject_spark.operators.fuzzy import (
        q_customer_golden_record,
    )

    sc = spark.sparkContext
    group = f"golden_record_build_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "build q_customer_golden_record")
    try:
        df = q_customer_golden_record(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
    assert df.count() > 0
