"""Seeded input generators for the benchmark.

Every corpus is a pure function of (workload, seed, n_docs): the same
arguments give byte-identical parquet files.  Generation uses numpy and
pyarrow only (no Spark), so it stays out of every timed phase.

* ``distinct`` — multilingual pages whose words come from a character
  trigram Markov chain over each bundled language profile, so every page
  carries a known language label and no two texts are equal.  The label
  mix and the page lengths are those measured on the documents table the
  filter job serves (see DESIGN.md, "Input traffic").
* ``skew`` — the dedup stress corpus of ``sources/skew.py`` (its template
  hub, its word vocabulary, its planted-pair layout) made seedable, plus a
  near-duplicate hub that exact dedup cannot collapse.

Run as a script to write one corpus:
    python3 perfbench/gen.py <distinct|skew> <seed> <n_docs> <out_dir>
"""

from __future__ import annotations

import bisect
import json
import os
import random
import sys
from itertools import accumulate

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROFILE_DIR = os.path.join(REPO, "language_detection_spark", "data", "profiles")

# Measured on the served documents table (5,000 rows): its labels are en
# 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0%, and its page lengths
# spread evenly over 44-577 characters (deciles 103, 150, 201, 245, 295,
# 347, 394, 444, 493; no line breaks, e-mail addresses or links).
LANGS = ("en", "zh-cn", "es", "fr", "de")
LANG_WEIGHTS = (0.412, 0.151, 0.149, 0.148, 0.140)
CHARS_PER_PAGE = (44, 577)
N_FILES = 8                  # fixed file count: input splits do not vary
VOCAB_WORDS = 3000           # Markov words per language (with repeats)

SKEW_EXACT_HUB_FRAC = 0.05   # byte-identical boilerplate
SKEW_NEAR_HUB_FRAC = 0.05    # template + per-doc token: > max_bucket_size
SKEW_PAIR_STRIDE = 100       # one planted pair per 100 tail ids
_NEAR_TEMPLATE = (
    "sorry the page you requested could not be found it may have been "
    "moved renamed or deleted please use the search box or return to the "
    "home page to continue browsing our catalogue"
)


def _trigram_chain(lang: str) -> dict[str, tuple[str, list[int]]]:
    """prefix (2 chars) → (next chars, cumulative counts) from the
    profile's 3-grams."""
    with open(os.path.join(PROFILE_DIR, lang), encoding="utf-8") as f:
        freq = json.load(f)["freq"]
    nxt: dict[str, list[tuple[str, int]]] = {}
    for g, c in freq.items():
        if len(g) == 3:
            nxt.setdefault(g[:2], []).append((g[2], c))
    return {
        p: ("".join(ch for ch, _ in v), list(accumulate(c for _, c in v)))
        for p, v in nxt.items()
    }


def _pick(rng: random.Random, chars: str, cum: list[int]) -> str:
    return chars[bisect.bisect_right(cum, rng.random() * cum[-1])]


def language_vocab(lang: str, seed: int, n: int = VOCAB_WORDS) -> list[str]:
    """``n`` words (repeats allowed, so common words recur at their
    profile frequency) drawn from the language's trigram chain."""
    chain = _trigram_chain(lang)
    starts = [p for p in chain if p[0] == " " and p[1] != " "]
    start_cum = list(accumulate(chain[p][1][-1] for p in starts))
    rng = random.Random(f"{lang}:{seed}")
    words: list[str] = []
    while len(words) < n:
        p = starts[bisect.bisect_right(start_cum, rng.random() * start_cum[-1])]
        w = p[1]
        while len(w) < 14:
            nx = chain.get(p)
            if nx is None:
                break
            c = _pick(rng, *nx)
            if c == " ":
                break
            w += c
            p = p[1] + c
        words.append(w.lower())
    return words


def distinct_pages(seed: int, n: int) -> pa.Table:
    """``n`` distinct pages (url, warc_ts, text, lang label)."""
    vocabs = {lang: language_vocab(lang, seed) for lang in LANGS}
    rng = np.random.default_rng([seed, 1])
    lang_ix = rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)
    lens = rng.integers(CHARS_PER_PAGE[0], CHARS_PER_PAGE[1] + 1, size=n)
    texts: list[str] = []
    seen: set[str] = set()
    for i in range(n):
        lang = LANGS[lang_ix[i]]
        v = vocabs[lang]
        # Chinese is written without spaces between words
        sep = "" if lang.startswith("zh") else " "
        t = ""
        while len(t) < lens[i]:
            t += (sep if t else "") + v[int(rng.integers(0, len(v)))]
        # a repeat is astronomically unlikely; salt it so "distinct" holds
        while t in seen:
            t += f" {i}"
        seen.add(t)
        texts.append(t)
    langs = [LANGS[k] for k in lang_ix]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.arange(
        n, dtype="timedelta64[s]")
    return pa.table({
        "url": [f"https://h{i % 997}.example/{seed}/{langs[i]}/{i:08d}"
                for i in range(n)],
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "text": texts,
        "lang": langs,
    })


def skew_layout(n: int) -> dict:
    """Index ranges of the skew corpus parts (ids are row indexes)."""
    exact = int(n * SKEW_EXACT_HUB_FRAC)
    near = int(n * SKEW_NEAR_HUB_FRAC)
    tail0 = exact + near
    pairs = [(i, i + 1) for i in range(tail0, n - 1, SKEW_PAIR_STRIDE)]
    return {"exact_hub": (0, exact), "near_hub": (exact, tail0),
            "pairs": pairs}


def skew_url(seed: int, i: int) -> str:
    return f"https://s{i % 491}.example/{seed}/{i:09d}"


def skew_corpus(seed: int, n: int) -> pa.Table:
    from language_detection_spark.sources.skew import _TEMPLATE, _VOCAB

    rng = np.random.default_rng([seed, 3])
    lay = skew_layout(n)
    _, e1 = lay["exact_hub"]
    _, n1 = lay["near_hub"]
    texts: list[str] = [_TEMPLATE] * e1
    texts += [f"{_NEAR_TEMPLATE} ref{seed}x{i}" for i in range(e1, n1)]
    tail = n - n1
    bodies = rng.integers(0, len(_VOCAB), size=(tail, 30))
    for r in range(tail):
        if r % SKEW_PAIR_STRIDE < 2:
            # both members share the pair's 30-word body; the odd one
            # appends a word (shingle Jaccard 28/29)
            body = " ".join(_VOCAB[w] for w in bodies[r - r % 2])
            texts.append(body + " extraword" if r % 2 else body)
        else:
            texts.append(" ".join(_VOCAB[w] for w in bodies[r, :20]))
    # the layout the filter job commits and its dedup stage reads:
    # kept rows with their scrubbed text
    return pa.table({
        "url": [skew_url(seed, i) for i in range(n)],
        "bucket": pa.array(np.arange(n) % 256, pa.int32()),
        "scrubbed_text": texts,
        "keep": pa.array(np.ones(n, dtype=bool)),
    })


GENERATORS = {"distinct": distinct_pages, "skew": skew_corpus}


def write(kind: str, seed: int, n: int, out_dir: str) -> None:
    """Write the corpus as ``N_FILES`` parquet files, then a _SUCCESS
    marker (a partial directory from a killed run is never reused)."""
    table = GENERATORS[kind](seed, n)
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for k in range(N_FILES):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(tmp, f"part-{k:02d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    write(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
