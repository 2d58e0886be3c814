"""Conversation ETL tests (reference S1-S5/F1-F4 semantics) on generated
JSON fixtures matching FIXTURES.md §A."""

from __future__ import annotations

import json
import os

import pytest

from bigdataminingproject_spark.sources.conversations import (
    LoaderConfig,
    filter_conversations,
    load_or_build_messages,
    messages_table,
    ordered_message_stream,
    read_conversation_dir,
    split_corpus,
)

BOILER = (
    "This message contains files. If the description for a file does not "
    "make sense, ignore it.Here are descriptions of those files:\n"
    "Description for file 1:"
)


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("convs")
    convs = {
        "happy.json": {
            "messages": [
                {"body": "Hello THERE friend", "time": 3, "medium": "Email", "is_inbound": True},
                {"body": "send money now", "time": 1, "medium": "Email", "is_inbound": True},
                {"body": "I will not", "time": 2, "medium": "Email", "is_inbound": False},
            ]
        },
        "insta.json": {  # entire conversation dropped (F2)
            "messages": [
                {"body": "dm me", "time": 5, "medium": "Instagram", "is_inbound": True},
                {"body": "ok", "time": 6, "medium": "Email", "is_inbound": True},
            ]
        },
        "edge.json": {
            "messages": [
                {"body": "", "time": 7, "medium": "Email", "is_inbound": True},
                {"body": None, "time": 8, "medium": "Email", "is_inbound": True},
                {"body": BOILER + " a photo of cindy u admire", "time": 9, "medium": "Email", "is_inbound": True},
                {"body": "no time message", "medium": "Email", "is_inbound": True},
            ]
        },
    }
    for name, payload in convs.items():
        (root / name).write_text(json.dumps(payload))
    return str(root)


def test_read_parses_all_files(spark, corpus_dir):
    df = read_conversation_dir(spark, corpus_dir)
    assert df.count() == 3


def test_medium_antifilter_drops_whole_conversation(spark, corpus_dir):
    df = filter_conversations(read_conversation_dir(spark, corpus_dir))
    names = [os.path.basename(r["conv_id"]) for r in df.collect()]
    assert "insta.json" not in names
    assert len(names) == 2


def test_inbound_only_filter(spark, corpus_dir):
    df = filter_conversations(read_conversation_dir(spark, corpus_dir))
    msgs = messages_table(df)
    bodies = {r["raw_body"] for r in msgs.collect()}
    assert "I will not" not in bodies  # outbound dropped (F3)


def test_empty_bodies_dropped_and_boilerplate_scrubbed(spark, corpus_dir):
    df = filter_conversations(read_conversation_dir(spark, corpus_dir))
    msgs = messages_table(df).collect()
    raws = {r["raw_body"] for r in msgs}
    assert "" not in raws and None not in raws  # F1 (post-scrub)
    edge = [r for r in msgs if "photo" in r["raw_body"]]
    assert len(edge) == 1
    assert "Description for file" not in edge[0]["raw_body"]  # F4
    # preprocessing: lowercase, skipwords {cindy, u} removed (reference
    # either/or mode: ONLY skipwords when use_skipwords=True)
    assert edge[0]["body"] == "a photo of admire"


def test_stopword_mode_when_skipwords_off(spark, corpus_dir):
    df = filter_conversations(read_conversation_dir(spark, corpus_dir))
    msgs = messages_table(df, use_skipwords=False).collect()
    edge = [r for r in msgs if "photo" in r["raw_body"]][0]
    # full English stopword list now active: 'a' and 'of' drop, 'u' is a
    # skipword (not a stopword) so it survives — cindy too
    assert edge["body"] == "photo cindy u admire"


def test_ordered_stream_missing_time_sorts_last(spark, corpus_dir):
    df = filter_conversations(read_conversation_dir(spark, corpus_dir))
    msgs = messages_table(df)
    stream = ordered_message_stream(msgs).collect()
    bodies = [r["body"] for r in stream]
    assert bodies[0] == "send money now"  # time=1
    assert bodies[-1] == "no time message"  # null time → last


def test_ordered_stream_limit(spark, corpus_dir):
    df = filter_conversations(read_conversation_dir(spark, corpus_dir))
    msgs = messages_table(df)
    assert ordered_message_stream(msgs, limit=2).count() == 2


def test_bounded_stream_is_prefix_of_unbounded(spark, corpus_dir):
    """The bounded replay (a top-N) equals the first k rows of the
    unbounded one (global-position numbering), positions and bodies,
    down to the null-time row that sorts last."""
    df = filter_conversations(read_conversation_dir(spark, corpus_dir))
    msgs = messages_table(df)
    full = [
        (r["stream_pos"], r["body"])
        for r in ordered_message_stream(msgs).orderBy("stream_pos").collect()
    ]
    assert len(full) == 4
    assert full[-1] == (4, "no time message")
    for k in (1, 2, len(full)):
        bounded = [
            (r["stream_pos"], r["body"])
            for r in ordered_message_stream(msgs, limit=k)
            .orderBy("stream_pos")
            .collect()
        ]
        assert bounded == full[:k]


def test_split_corpus_deterministic(spark, corpus_dir):
    df = read_conversation_dir(spark, corpus_dir)
    a = {(r["conv_id"], r["split"]) for r in split_corpus(df).collect()}
    b = {(r["conv_id"], r["split"]) for r in split_corpus(df).collect()}
    assert a == b
    assert {s for _, s in a} <= {"train", "test"}


def test_cache_roundtrip_and_force_reload(spark, corpus_dir, tmp_path):
    cache = str(tmp_path / "cache")
    cfg = LoaderConfig(data_dir=corpus_dir)
    first = load_or_build_messages(spark, cfg, cache)
    n = first.count()
    assert os.path.exists(os.path.join(cache, cfg.cache_key()))
    again = load_or_build_messages(spark, cfg, cache)
    assert again.count() == n
    rebuilt = load_or_build_messages(spark, cfg, cache, force_reload=True)
    assert rebuilt.count() == n
    # different config → different cache key
    assert (
        LoaderConfig(data_dir=corpus_dir, use_skipwords=False).cache_key()
        != cfg.cache_key()
    )


def test_random_three_way_split(spark, corpus_dir):
    from bigdataminingproject_spark.sources.conversations import (
        random_three_way_split,
    )

    df = spark.range(1000)
    splits = random_three_way_split(df, test=0.2, val=0.1, seed=42)
    assert set(splits) == {"train", "val", "test"}
    total = sum(s.count() for s in splits.values())
    assert total == 1000
    # P1 ratios (dataloader.py:27-38): ~72/8/20 — generous tolerance
    assert 0.6 < splits["train"].count() / 1000 < 0.85
    # deterministic under the seed
    again = random_three_way_split(df, test=0.2, val=0.1, seed=42)
    assert again["test"].count() == splits["test"].count()


def test_lemmatize_matches_wordnet_noun_semantics(spark):
    """With or without NLTK, lemmatize() applies WordNet noun morphy
    semantics: plural nouns reduce, non-noun inflections ("running")
    pass through because the reference uses the default pos='n'."""
    from bigdataminingproject_spark.functions import nlp
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(["cats", "running", "men", "heroes"],)], "toks array<string>"
    )
    out = df.select(nlp.lemmatize(F.col("toks")).alias("v")).first()["v"]
    # "heroes" unchanged is real WordNetLemmatizer behavior (no -oes
    # rule in morphy), reproduced by the vendored fallback
    assert out == ["cat", "running", "man", "heroes"]
