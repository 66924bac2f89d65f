"""Semantics tests for the Bloom-filter membership dedup and the BPE
corpus encoder.  Cross-engine value contracts are the `bloom_dedup` /
`bpe_token_stats` DuckDB oracles (full positions-set re-derivation /
independent local BPE, green at sf0.01 and sf0.1); these tests pin the
mechanisms on hand-built data: bit-exact bitmap construction, the
no-false-negative guarantee, greedy merge-application order, and the
probe plan shape.
"""

import hashlib

import numpy as np
from pyspark.sql import functions as F

from language_detection_spark.operators.dedup import (
    bloom_probe,
    build_bloom_filter,
)
from language_detection_spark.operators.tokenizer import (
    bpe_token_stats,
    encode_vocab_bpe,
    encode_word_local,
    train_bpe_local,
)

M, K, S = 2048, 3, 4


def _local_positions(key: str):
    d = hashlib.md5(key.encode()).hexdigest()
    h1, h2 = int(d[:15], 16), int(d[16:31], 16)
    shard = h2 % S
    return shard, [((h1 % M) + i * (h2 % M)) % M for i in range(K)]


def _keys_df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "text: string")


def test_bloom_bitmap_bit_exact_vs_local(spark):
    keys = [f"doc body {i}" for i in range(200)]
    built = {
        r.shard: (r.bloom, r.n_keys)
        for r in build_bloom_filter(
            _keys_df(spark, keys), "text", M, K, S
        ).collect()
    }
    want = {s: np.zeros(M, dtype=bool) for s in range(S)}
    nk = {s: 0 for s in range(S)}
    for k in keys:
        shard, pos = _local_positions(k)
        nk[shard] += 1
        for p in pos:
            want[shard][p] = True
    for s, bits in want.items():
        if nk[s] == 0:
            assert s not in built
            continue
        bloom, n_keys = built[s]
        assert n_keys == nk[s]
        assert bytes(bloom) == np.packbits(bits, bitorder="little").tobytes()


def test_bloom_no_false_negatives_and_fp_bounded(spark):
    seen = [f"seen {i}" for i in range(150)]
    novel = [f"novel {i}" for i in range(300)]
    bloom = build_bloom_filter(_keys_df(spark, seen), "text", M, K, S)
    out = bloom_probe(
        _keys_df(spark, seen + novel), bloom, "text", M, K, S
    ).collect()
    flags = {r.text: r.possibly_seen for r in out}
    assert all(flags[k] for k in seen), "Bloom must never false-negative"
    fp = sum(flags[k] for k in novel) / len(novel)
    assert fp < 0.2, f"false-positive rate {fp} implausible for m/n≈13.6"


def test_bloom_probe_plan_broadcasts_filter(spark):
    bloom = spark.createDataFrame(
        [(s, bytes(M // 8), 1) for s in range(S)],
        "shard: int, bloom: binary, n_keys: long",
    )
    plan = (
        bloom_probe(_keys_df(spark, ["x"]), bloom, "text", M, K, S)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastExchange" in plan
    assert "hashpartitioning" not in plan, "probe side must not shuffle"


def test_bloom_missing_shard_is_unseen(spark):
    # filter built from one key → other shards absent from the table;
    # probes landing there must come back unseen, not error.
    one = ["only key"]
    bloom = build_bloom_filter(_keys_df(spark, one), "text", M, K, S)
    probes = [f"probe {i}" for i in range(40)]
    out = bloom_probe(_keys_df(spark, probes), bloom, "text", M, K, S)
    got = {r.text: r.possibly_seen for r in out.collect()}
    only_shard = _local_positions("only key")[0]
    for p in probes:
        if _local_positions(p)[0] != only_shard:
            assert not got[p]


def test_encode_vocab_greedy_order_hand_case(spark):
    vocab = spark.createDataFrame([("aaab",)], "word: string")
    merges = [(1, "a", "a", 9)]
    row = encode_vocab_bpe(vocab, merges).collect()[0]
    assert row.syms == ["aa", "a", "b", "</w>"] and row.n_tokens == 4
    assert encode_word_local("aaab", merges) == ["aa", "a", "b", "</w>"]
    # rank order matters: merging (aa,a) exists only after (a,a)
    merges2 = [(1, "a", "a", 9), (2, "aa", "a", 5)]
    row2 = encode_vocab_bpe(vocab, merges2).collect()[0]
    assert row2.syms == ["aaa", "b", "</w>"]


def test_encode_engines_agree(spark):
    """The one-pass Arrow encoder equals the plain-Python spec
    (``encode_word_local``) on every word shape: single char, merge
    chains, rank-order-dependent merges, unicode, repeats — and keeps the
    JVM quirk for the empty word (split('') → ['']), which the spec
    does not model."""
    words = ["", "a", "aaab", "aaaa", "banana", "é漢字", "abab",
             "the", "thethe", "x"]
    vocab = spark.createDataFrame([(w,) for w in words], "word: string")
    merges = [(1, "a", "a", 9), (2, "aa", "a", 5), (3, "b", "a", 4),
              (4, "t", "h", 3), (5, "th", "e", 2)]
    got = {r.word: (r.syms, r.n_tokens)
           for r in encode_vocab_bpe(vocab, merges).collect()}
    assert got[""] == (["", "</w>"], 2)
    for w in words[1:]:
        assert got[w][0] == encode_word_local(w, merges), w
        assert got[w][1] == len(got[w][0]), w


def test_bpe_token_stats_matches_local_and_monotone(spark):
    texts = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat"),
        (2, "cat cat cat dog"),
        (3, ""),
        (4, "thecatisthecat"),
    ]
    df = spark.createDataFrame(texts, "doc_id: long, text: string")
    corpus = [t for _, t in texts]
    prev = None
    for n_merges in (0, 4, 12):
        merges = train_bpe_local(corpus, n_merges=n_merges)
        got = {
            r.doc_id: (r.n_words, r.n_bpe_tokens, r.n_chars)
            for r in bpe_token_stats(df, merges).collect()
        }
        for did, t in texts:
            words = t.split()
            want_tok = sum(len(encode_word_local(w, merges)) for w in words)
            assert got[did] == (len(words), want_tok, len(t))
        total = sum(v[1] for v in got.values())
        if prev is not None:
            assert total <= prev, "more merges can only shrink token count"
        prev = total
    assert got[3] == (0, 0, 0)
