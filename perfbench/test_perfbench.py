"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), "tools")]

import corpus  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402
import tracer  # noqa: E402
import workloads  # noqa: E402


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dp, _dn, fns in sorted(os.walk(root)):
        for fn in sorted(fns):
            h.update(fn.encode())
            with open(os.path.join(dp, fn), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def test_corpus_is_deterministic_per_seed(tmp_path):
    a = _digest_of_corpus(tmp_path / "a", 5)
    assert a == _digest_of_corpus(tmp_path / "b", 5)
    assert a != _digest_of_corpus(tmp_path / "c", 6)


def _digest_of_corpus(root, seed):
    corpus.generate(str(root), seed, n_conversations=60)
    return _digest(str(root))


def test_corpus_has_the_inputs_the_filters_exist_for(tmp_path):
    corpus.generate(str(tmp_path), 3, n_conversations=300)
    msgs, blocked = [], 0
    for fn in os.listdir(tmp_path):
        with open(tmp_path / fn) as f:
            m = json.load(f)["messages"]
        blocked += any(x["medium"] != "Email" for x in m)
        msgs += m
    bodies = [x["body"] for x in msgs if x["body"]]
    assert blocked > 0
    assert any(not x["is_inbound"] for x in msgs)
    assert any(b.startswith("Description for file") for b in bodies)
    assert len(set(bodies)) < len(bodies)  # exact repeats exist
    # preprocessing keeps real words: bodies do not collapse together
    pre = {reference.preprocess(b) for b in bodies}
    assert len(pre) > 0.7 * len(set(bodies))


def test_tables_are_deterministic_per_seed(tmp_path):
    tables.generate(str(tmp_path / "a"), 1, scale=0.05)
    tables.generate(str(tmp_path / "b"), 1, scale=0.05)
    tables.generate(str(tmp_path / "c"), 2, scale=0.05)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_events_are_enough_for_the_qdigest_sweep_to_compress():
    from bigdataminingproject_spark.operators.qdigest import QD_K

    # with tau = n // QD_K below 2 the sweep keeps every leaf
    assert tables.ROWS["events"] // QD_K >= 2


def test_split_hash_matches_spark_xxhash64():
    # pmod(xxhash64(name, 42), 10000) as Spark 4.1 computes it
    assert reference.split_of("conv_000001.json") == "test"  # 9952
    assert reference.split_of("conv_000123.json") == "train"  # 3766
    h = reference.xxh64(b"a" * 40, 42)
    h = reference.xxh64((42).to_bytes(4, "little"), h)
    assert reference._signed(h) % 10_000 == 2326


def _write(root, name, messages):
    with open(os.path.join(root, name), "w") as f:
        json.dump({"messages": messages}, f)


def test_reference_on_a_hand_checked_corpus(tmp_path):
    root = str(tmp_path)
    email = lambda body, t, inbound=True: {  # noqa: E731
        "body": body, "time": t, "medium": "Email", "is_inbound": inbound,
    }
    # conv_000001.json hashes to the test split
    _write(root, "conv_000001.json", [
        email("Send the money now please", 30),
        email("ignored outbound", 5, inbound=False),
        email("Description for file 1: send the money now please", 10),
        email("call me 555", 20),
        email(None, 1),
        email("send the gift cards today", None),
    ])
    # conv_000123.json is in the train split: never streamed
    _write(root, "conv_000123.json", [email("train split only", 2)])
    got = reference.summary(
        root, "test", limit=None, update_interval=2, top_frequency=3,
        freq_queries=["SEND", "zz"],
    )
    # stream order by time, nulls last (the loader drops only skipwords):
    #   t=10 "send the money now please" (boilerplate scrubbed)
    #   t=20 "call me"   t=30 "send the money now please"   t=null "send the gift cards today"
    # shingles of t=10: "send the money", "the money now", "money now please"
    # t=30 repeats all three -> score 1.0 -> duplicate
    assert got["processed"] == 4
    assert got["duplicates"]["total"] == 1
    assert [s["message_count"] for s in got["periodic_snapshots"]] == [2, 4]
    assert [s["duplicates_so_far"] for s in got["periodic_snapshots"]] == [0, 1]
    # counts without stopwords: send 3, money 2, now 2, please 2, ...
    assert got["final_top_tokens"] == {"send": 3, "money": 2, "now": 2}
    assert got["frequency_estimates"] == {"send": 3, "zz": 0}
    assert reference.compare(got, got) == []
    wrong = json.loads(json.dumps(got))
    wrong["duplicates"]["total"] = 0
    assert reference.compare(wrong, got)


def test_every_named_metric_has_a_unit():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layer == tracer.metric_units()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert [w["name"] for w in bench["workloads"]] == list(workloads.NAMES)


class _Fake:
    """A workload whose op returns ``results`` in turn; 2 is right."""

    def __init__(self, results):
        self.results = list(results)

    def op(self, spark):
        r = self.results.pop(0)
        if isinstance(r, Exception):
            raise r
        return r

    def check(self, result):
        return [] if result == 2 else [f"got {result}"]


def test_a_wrong_or_raised_result_counts_as_failed():
    loop = run.OpLoop(_Fake([2, 3, 2, RuntimeError("boom")]), spark=None)
    for _ in range(4):
        loop.run(traced=False)
    assert (loop.attempted, loop.failed) == (4, 2)
    assert loop.fail_frac == 0.5
    assert any("boom" in e for e in loop.errors)


def test_overhead_pairs_each_traced_op_with_both_neighbours():
    # untraced ops speed up as the JVM warms; the traced ops between them
    # are 10% slower than their neighbours' mean
    untraced = [12.0, 10.0, 8.0]
    traced = [11.0 * 1.1, 9.0 * 1.1]
    assert abs(run.overhead_frac(untraced, traced) - 0.1) < 1e-12


def test_covered_merges_overlapping_intervals():
    assert tracer.covered([(0, 2), (1, 3), (5, 6), (9, 20)], 0, 10) == 5
