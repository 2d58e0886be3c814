"""Pure-Python recomputation of what ``cli.main`` reports for a corpus.

It re-derives, without Spark: the hashed train/test split, the
conversation filter, boilerplate scrub and preprocessing, the global time
order, check-then-insert 3-shingle duplicate scores, per-snapshot
counters and the final top tokens (a Counter). ``compare`` lists every
field of a CLI summary that disagrees with it.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from bigdataminingproject_spark.functions.text import (
    ENGLISH_STOPWORDS,
    FILE_DESCRIPTION_PREAMBLE,
    SKIPWORDS,
)

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _merge(h: int, acc: int) -> int:
    return ((h ^ _round(0, acc)) * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned 64-bit), as Spark's ``xxhash64`` uses."""
    seed &= _M
    n = len(data)
    i = 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M,
            (seed + _P2) & _M,
            seed,
            (seed - _P1) & _M,
        ]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i : i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for k in range(4):
            h = _merge(h, v[k])
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


def split_of(file_name: str, seed: int = 42, train_ratio: float = 0.7) -> str:
    """``split_corpus``: pmod(xxhash64(basename, seed), 10000) vs the ratio."""
    h = xxh64(file_name.encode(), 42)
    h = xxh64(seed.to_bytes(4, "little", signed=True), h)
    return "train" if _signed(h) % 10_000 < int(train_ratio * 10_000) else "test"


_NON_LETTERS = re.compile(r"[^a-z]+")
_FILE_MARKER = re.compile(r"Description for file [0-9]+:")
_STOP = frozenset(ENGLISH_STOPWORDS) | frozenset(SKIPWORDS)


def tokens(text: str) -> list[str]:
    return [t for t in _NON_LETTERS.split(text.lower()) if t]


def preprocess(body: str) -> str:
    return " ".join(t for t in tokens(body) if t not in SKIPWORDS)


def stream_bodies(data_dir: str, split: str, limit: int | None) -> list[str]:
    """Preprocessed bodies of ``split`` in global stream order."""
    rows = []
    for name in sorted(os.listdir(data_dir)):
        if split_of(name) != split:
            continue
        with open(os.path.join(data_dir, name)) as f:
            msgs = json.load(f)["messages"]
        if any(m["medium"] in ("Instagram", "Telegram") for m in msgs):
            continue
        inbound = [m for m in msgs if m["is_inbound"] is True]
        for idx, m in enumerate(inbound):
            if m["body"] is None:
                continue
            scrubbed = _FILE_MARKER.sub(
                "", m["body"].replace(FILE_DESCRIPTION_PREAMBLE, "")
            )
            body = preprocess(scrubbed) if scrubbed else ""
            if body:
                t = m["time"]
                rows.append(((t is None, t or 0, name, idx), body))
    rows.sort(key=lambda r: r[0])
    bodies = [b for _, b in rows]
    return bodies if limit is None else bodies[:limit]


def round4(x: float) -> float:
    """Spark's ``round(x, 4)`` on a double: half-up on its shortest repr."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def duplicate_flags(bodies: list[str], threshold: float = 0.7) -> list[tuple[bool, float]]:
    """Check-then-insert 3-shingle scores: (is_duplicate, score) per body,
    the score rounded to 4 places as the program reports it."""
    seen: set[str] = set()
    out = []
    for body in bodies:
        toks = tokens(body)
        sh = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        score = round4(sum(s in seen for s in sh) / len(sh)) if sh else 0.0
        seen.update(sh)
        out.append((score >= threshold, score))
    return out


def summary(
    data_dir: str,
    split: str,
    limit: int | None,
    update_interval: int = 100,
    top_frequency: int = 10,
    freq_queries: list[str] = (),
) -> dict:
    """The CLI summary fields this reference recomputes."""
    bodies = stream_bodies(data_dir, split, limit)
    flags = duplicate_flags(bodies)
    n = len(bodies)
    dups = sum(f for f, _ in flags)
    snapshots = []
    for end in range(update_interval, n + update_interval, update_interval):
        end = min(end, n)
        snapshots.append(
            {
                "message_count": end,
                "duplicates_so_far": sum(f for f, _ in flags[:end]),
            }
        )
    counts = Counter(t for b in bodies for t in tokens(b) if t not in _STOP)
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:top_frequency]
    return {
        "processed": n,
        "duplicates": {
            "total": dups,
            "rate": dups / n if n else 0.0,
            "avg_score": sum(s for _, s in flags) / n if n else 0.0,
        },
        "periodic_snapshots": snapshots,
        "final_top_tokens": dict(top),
        "frequency_estimates": {t.lower(): counts[t.lower()] for t in freq_queries},
    }


def compare(got: dict, want: dict) -> list[str]:
    """Fields of the CLI summary ``got`` that differ from ``want``."""
    bad = []
    if got.get("processed") != want["processed"]:
        bad.append(f"processed {got.get('processed')} != {want['processed']}")
    gd = got.get("duplicates", {})
    if gd.get("total") != want["duplicates"]["total"]:
        bad.append(f"duplicates.total {gd.get('total')} != {want['duplicates']['total']}")
    for k in ("rate", "avg_score"):
        # sums of doubles differ in the last bits with summation order
        if abs(float(gd.get(k, -1.0)) - want["duplicates"][k]) > 1e-9:
            bad.append(f"duplicates.{k} {gd.get(k)} != {want['duplicates'][k]}")
    snaps = [
        {"message_count": s["message_count"], "duplicates_so_far": s["duplicates_so_far"]}
        for s in got.get("periodic_snapshots", [])
    ]
    if snaps != want["periodic_snapshots"]:
        bad.append("periodic_snapshots message_count/duplicates_so_far differ")
    if got.get("frequency_estimates", {}) != want["frequency_estimates"]:
        bad.append(f"frequency_estimates {got.get('frequency_estimates')} != {want['frequency_estimates']}")
    if got.get("final_top_tokens") != want["final_top_tokens"]:
        bad.append(f"final_top_tokens {got.get('final_top_tokens')} != {want['final_top_tokens']}")
    return bad
