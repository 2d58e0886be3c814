"""Seeded generator for the conversation corpus the cli_cold workload reads.

One JSON file per conversation, in the layout the loader scans
(``{"messages": [{body, time, medium, is_inbound}, ...]}``). Everything is
drawn from ``random.Random(seed)``, so one seed always writes the same
bytes.

The vocabulary is alphabetic on purpose: preprocessing drops every
non-letter, so numbered words such as ``w123`` would collapse every body
to the same few letters and turn nearly every message into a duplicate.
The generator controls the share of exact repeats and near repeats, and
adds the inputs ``filter_conversations`` and preprocessing exist for:
conversations with an Instagram/Telegram message (dropped whole),
outbound messages (dropped), empty bodies, the file-description
boilerplate, digits and punctuation, stopwords and the corpus skipwords.
"""

from __future__ import annotations

import json
import os
import random

_ONSETS = "b c d f g h j k l m n p r s t v w z br ch cl dr gr pl sh st tr".split()
_VOWELS = "a e i o u ai ea ou".split()
_CODAS = ["", "", "n", "r", "s", "l", "nd", "st", "x"]

# Common words that the loader keeps (skipwords aside) but the frequency
# counters drop as English stopwords.
_FILLERS = "the and you your to of for is it on with this that me my we".split()
_SKIPWORDS = ("cindy", "jenkins", "enron", "u")
_NOISE = ["500", "$20", "24/7", "now!", "wire...", "#1", "ok?", "2fa", "x9"]
_BOILERPLATE = "Description for file 1:"

# shape of every generated corpus
MIN_MESSAGES, MAX_MESSAGES = 1, 7  # per conversation
VOCAB_SIZE = 2500
REPEAT_SHARE = 0.12  # inbound bodies copied from an earlier body
NEAR_REPEAT_SHARE = 0.05  # copied with one word replaced
BLOCKED_SHARE = 0.08  # conversations with an Instagram/Telegram message
OUTBOUND_SHARE = 0.3
EMPTY_SHARE = 0.02
BOILERPLATE_SHARE = 0.03
NULL_TIME_SHARE = 0.01


def vocabulary(rng: random.Random, size: int) -> list[str]:
    """``size`` distinct alphabetic words built from syllables."""
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = rng.choice((2, 2, 3))
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(n))
        w += rng.choice(_CODAS)
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def _body(rng: random.Random, vocab: list[str], weights: list[float]) -> str:
    n = rng.randint(4, 22)
    toks = rng.choices(vocab, weights=weights, k=n)
    for i in range(n):
        r = rng.random()
        if r < 0.15:
            toks[i] = rng.choice(_FILLERS)
        elif r < 0.18:
            toks[i] = rng.choice(_SKIPWORDS)
        elif r < 0.21:
            toks[i] = rng.choice(_NOISE)
        elif r < 0.26:
            toks[i] = toks[i].capitalize()
    return " ".join(toks)


def generate(root: str, seed: int, n_conversations: int = 1000) -> dict:
    """Write ``n_conversations`` files under ``root``; return the file and
    message counts and the vocabulary, most frequent word first."""
    rng = random.Random(seed)
    vocab = vocabulary(rng, VOCAB_SIZE)
    weights = [1.0 / (r + 1) for r in range(len(vocab))]
    os.makedirs(root, exist_ok=True)
    sizes = [
        rng.randint(MIN_MESSAGES, MAX_MESSAGES) for _ in range(n_conversations)
    ]
    # distinct times in shuffled order, so stream order != file order
    times = rng.sample(range(sum(sizes) * 7), sum(sizes))
    pool: list[str] = []
    t = 0
    n_msgs = 0
    for c in range(n_conversations):
        blocked = rng.random() < BLOCKED_SHARE
        msgs = []
        for _ in range(sizes[c]):
            r = rng.random()
            if pool and r < REPEAT_SHARE:
                body = rng.choice(pool)
            elif pool and r < REPEAT_SHARE + NEAR_REPEAT_SHARE:
                toks = rng.choice(pool).split(" ")
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
                body = " ".join(toks)
            else:
                body = _body(rng, vocab, weights)
                pool.append(body)
            r = rng.random()
            if r < EMPTY_SHARE:
                body = rng.choice(("", None, "123 !!"))
            elif r < EMPTY_SHARE + BOILERPLATE_SHARE:
                body = f"{_BOILERPLATE} {body}"
            msgs.append(
                {
                    "body": body,
                    "time": None if rng.random() < NULL_TIME_SHARE else times[t],
                    "medium": "Email",
                    "is_inbound": rng.random() >= OUTBOUND_SHARE,
                }
            )
            t += 1
        if blocked:
            msgs[rng.randrange(len(msgs))]["medium"] = rng.choice(
                ("Instagram", "Telegram")
            )
        n_msgs += len(msgs)
        with open(os.path.join(root, f"conv_{c:06d}.json"), "w") as f:
            json.dump({"messages": msgs}, f)
    return {"files": n_conversations, "messages": n_msgs, "vocabulary": vocab}
