"""Semantics tests for distributed BPE-merge training.

The cross-engine contract is covered by the `bpe_merges` oracle (an
independent plain-Python implementation of the Sennrich 2016 spec baked
as literals — green at sf0.01 and sf0.1); these tests pin the algorithm
on adversarial inputs: overlapping pairs, exact tie-breaks, early stop,
multi-script text, and the greedy left-to-right application order.
"""

from pyspark.sql import functions as F

from language_detection_spark.operators import tokenizer
from language_detection_spark.operators.tokenizer import (
    train_bpe_local,
    train_bpe_merges,
    word_freq_table,
)


def _df(spark, texts):
    return spark.createDataFrame([(t,) for t in texts], "text: string")


def test_bpe_hand_computed_overlap_ties_and_early_stop(spark):
    # one word "aaa": merges are fully hand-derivable, incl. the greedy
    # overlap rule ("aaa" has TWO (a,a) pairs but merges to [aa, a]) and
    # the (count desc, left asc, right asc) tie-break; training exhausts
    # after 3 merges — early stop before n_merges.
    expected = [
        (1, "a", "a", 2),        # [a,a,a,</w>] → [aa,a,</w>]
        (2, "a", "</w>", 1),     # tie (aa,a) vs (a,</w>): 'a' < 'aa'
        (3, "aa", "a</w>", 1),   # [aa,a</w>] → [aaa</w>], done
    ]
    assert train_bpe_local(["aaa"], n_merges=10) == expected
    assert train_bpe_merges(_df(spark, ["aaa"]), n_merges=10) == expected


def test_bpe_spark_matches_local_on_adversarial_corpus(spark):
    texts = [
        "aaa aaab baaa",
        "ab ab ab abab",
        "don't stop won't",          # quote chars flow through
        "低 低 低资 资低 资资",        # multi-script (BMP han)
        "  padded   whitespace  ",
        "",                           # empty doc ignored
        "repeat repeat repeat repeat",
    ]
    got = train_bpe_merges(_df(spark, texts), n_merges=20)
    want = train_bpe_local(texts, n_merges=20)
    assert got == want
    assert len(got) == 20


def test_bpe_word_freq_is_single_pass_aggregate(spark):
    df = _df(spark, ["a b a", "b c"])
    wf = {r.word: r.n for r in word_freq_table(df).collect()}
    assert wf == {"a": 2, "b": 2, "c": 1}
    plan = word_freq_table(df)._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan, "word counts must partial-aggregate"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_merge_application_is_order_deterministic(spark):
    # layout invariance: repartitioned input yields the identical merge
    # sequence (all reductions are commutative aggregates + total-order
    # argmax)
    texts = [f"w{i % 7}x y{i % 3}" for i in range(50)]
    a = train_bpe_merges(_df(spark, texts), n_merges=8)
    b = train_bpe_merges(_df(spark, texts).repartition(11), n_merges=8)
    assert a == b == train_bpe_local(texts, n_merges=8)


def test_bpe_engines_agree_and_match_arbiter(spark, monkeypatch):
    # the scale-adaptive fast path (single-task incremental merge loop)
    # and the distributed per-round loop must produce the identical merge
    # sequence, both equal to the independent plain-Python arbiter.
    # _LOCAL_VOCAB_MAX=0 forces the distributed engine.
    texts = [
        "aaa aaab baaa", "ab ab ab abab", "don't stop won't",
        "低 低 低资 资低 资资", "repeat repeat repeat xyz",
    ]
    fast = train_bpe_merges(_df(spark, texts), n_merges=16)
    monkeypatch.setattr(tokenizer, "_LOCAL_VOCAB_MAX", 0)
    dist = train_bpe_merges(_df(spark, texts), n_merges=16)
    assert fast == dist == train_bpe_local(texts, n_merges=16)
