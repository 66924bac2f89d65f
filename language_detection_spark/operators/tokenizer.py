"""Distributed BPE-merge training (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units" — public paper): learn the
byte-pair-encoding merge table of a corpus with Spark doing the counting.

Reference anchor: the reference's trainer (`LangProfileFactory`
profile-building loop, cited at `models/trainer.py`) aggregates n-gram
frequencies corpus-wide; BPE training is the same shape one level up —
iterative frequency aggregation with a tiny argmax collected per round.

Scale design (100 TB): the corpus-scale work is exactly ONE pass — the
word-frequency aggregation (map-side combine; Zipf makes the distinct-word
table orders of magnitude smaller than the corpus).  The merge loop then
touches only that table: in one task when it fits, else per round an
adjacent-pair explode → partial-agg count → 1-row argmax to the driver and
a pure JVM ``aggregate`` merge fold (greedy left-to-right), the table
``localCheckpoint``-ed each round.  Nothing data-scale reaches the driver.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.repartition import literal_frame, one_task_or_distributed

_EOW = "</w>"
_MERGES_SCHEMA = (
    "merge_rank int, left_sym string, right_sym string, pair_count bigint"
)


def word_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) corpus frequency table — the ONLY corpus-scale pass."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.explode(words).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def _initial_symbols(word: F.Column) -> F.Column:
    """Character symbols plus the dedicated end-of-word marker."""
    return F.concat(F.split(word, ""), F.array(F.lit(_EOW)))


def _merge_expr(left: str, right: str) -> F.Column:
    """Greedy left-to-right merge of adjacent [left, right] → left+right,
    as a JVM-side aggregate fold (no Python)."""
    merged = left + right

    def step(acc, s):
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right))
        )
        return F.when(
            hit,
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(
        F.col("syms"), F.array().cast("array<string>"), step
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    pairs = F.when(
        F.size("syms") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at(F.col("syms"), i).alias("l"),
                F.element_at(F.col("syms"), i + F.lit(1)).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    return (
        vocab.select(F.explode(pairs).alias("p"), "n")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("n").alias("cnt"))
    )


def _train_bpe_from_vocab(
    words, ns, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Single-process BPE merge loop over a ``(word, n)`` vocabulary with
    incremental pair statistics (the subword-nmt indexing idea: each merge
    touches only the words that contain the merged pair).  Exactly the
    spec of the distributed loop — greedy left-to-right merge application
    and the deterministic (count desc, left asc, right asc) argmax — so
    the merge sequence is identical (differential-tested against both
    ``train_bpe_local`` and the distributed engine)."""
    from collections import Counter, defaultdict

    syms_l = [list(w) + [_EOW] for w in words]
    stats: Counter = Counter()
    index: defaultdict = defaultdict(set)
    for wi, (syms, n) in enumerate(zip(syms_l, ns)):
        for a, b in zip(syms, syms[1:]):
            stats[(a, b)] += n
            index[(a, b)].add(wi)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        if not stats:
            break
        (l, r), cnt = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, int(cnt)))
        for wi in list(index.get((l, r), ())):
            syms, n = syms_l[wi], ns[wi]
            for a, b in zip(syms, syms[1:]):
                c = stats[(a, b)] - n
                if c:
                    stats[(a, b)] = c
                else:
                    del stats[(a, b)]
                s = index[(a, b)]
                s.discard(wi)
                if not s:
                    del index[(a, b)]
            out: list[str] = []
            for s_ in syms:
                if out and out[-1] == l and s_ == r:
                    out[-1] = l + r
                else:
                    out.append(s_)
            syms_l[wi] = out
            for a, b in zip(out, out[1:]):
                stats[(a, b)] += n
                index[(a, b)].add(wi)
    return merges


_LOCAL_VOCAB_MAX = 2_000_000  # distinct words; Zipf keeps most corpora here


def train_bpe_merges(
    df: DataFrame,
    n_merges: int = 24,
    text_col: str = "text",
) -> list[tuple[int, str, str, int]]:
    """Learn up to ``n_merges`` BPE merges; returns
    ``[(merge_rank, left_sym, right_sym, pair_count), ...]``.

    Deterministic: argmax tie-break is (count desc, left asc, right asc)
    — both engines compare strings by code point, so an independent
    implementation reproduces the exact merge sequence.  Stops early when
    no adjacent pair remains (every word fully merged).

    Iterative, so it runs jobs.  The corpus-scale work is the ONE
    word-frequency pass; the merge loop then runs on the distinct-word
    table (``one_task_or_distributed``): in one task with incremental pair
    statistics up to ``_LOCAL_VOCAB_MAX`` words — one job, not one per
    merge (32k for a real tokenizer) — else as rounds of vocab-bounded
    shuffles with a 1-row argmax collect each."""
    return one_task_or_distributed(
        word_freq_table(df, text_col), _LOCAL_VOCAB_MAX,
        lambda wf: _train_bpe_one_task(wf, n_merges),
        lambda wf: _train_bpe_rounds(wf, n_merges),
    )


def _train_bpe_rounds(wf: DataFrame, n_merges: int):
    vocab = wf.select(_initial_symbols(F.col("word")).alias("syms"), "n")
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        # argmax with (cnt desc, l asc, r asc) tie-break as ONE partial+
        # final aggregation — min of struct(-cnt, l, r) — instead of a
        # global sort: no range-partitioning exchange, one 1-row collect
        best = (
            _pair_counts(vocab)
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("neg"),
                        F.col("l"),
                        F.col("r"),
                    )
                ).alias("b")
            )
            .select("b.l", "b.r", (-F.col("b.neg")).alias("cnt"))
            .collect()
        )
        if not best or best[0].l is None:
            break
        l, r, cnt = best[0].l, best[0].r, int(best[0].cnt)
        merges.append((rank, l, r, cnt))
        # LAZY checkpoint: the next round's argmax job materializes the
        # merged vocab while computing its pair counts — one Spark job
        # per merge round instead of two (the eager form ran a separate
        # materialization job per round; measured ~2× on the 24-round
        # training loop).  Lineage is still cut each round.
        vocab = vocab.select(
            _merge_expr(l, r).alias("syms"), "n"
        ).localCheckpoint(eager=False)
    return merges


def _train_bpe_one_task(wf: DataFrame, n_merges: int):
    """The single-task merge loop: accumulate the (word, n) vocabulary
    batches of the one coalesced partition, train, collect the merge
    table (<= n_merges rows)."""

    def _train(batches):
        words: list[str] = []
        ns: list[int] = []
        for pdf in batches:
            words.extend(pdf["word"])
            ns.extend(int(x) for x in pdf["n"])
        merges = _train_bpe_from_vocab(words, ns, n_merges)
        yield pd.DataFrame(
            {
                "merge_rank": pd.array(
                    [m[0] for m in merges], dtype="int32"
                ),
                "left_sym": pd.array(
                    [m[1] for m in merges], dtype="string"
                ),
                "right_sym": pd.array(
                    [m[2] for m in merges], dtype="string"
                ),
                "pair_count": pd.array(
                    [m[3] for m in merges], dtype="int64"
                ),
            }
        )

    return [tuple(r) for r in
            wf.coalesce(1).mapInPandas(_train, _MERGES_SCHEMA).collect()]


def bpe_merges_df(spark, merges) -> DataFrame:
    return literal_frame(spark, merges, _MERGES_SCHEMA)


def encode_vocab_bpe(vocab: DataFrame, merges) -> DataFrame:
    """Apply a learned merge table to a ``(word, …)`` vocabulary table →
    adds ``syms`` and ``n_tokens`` (symbols after all merges, incl. the
    ``</w>`` marker fused into its word-final symbol like training does).
    The input is the DISTINCT word table — Zipf makes it orders of
    magnitude smaller than the corpus, so encoding cost is
    vocabulary-sized, not corpus-sized.

    The WHOLE merge table applies in one Arrow crossing per partition
    (greedy left-to-right per merge in rank order — the spec of
    ``encode_word_local``, plus the JVM quirk that an empty word starts
    from ``["", "</w>"]``); one pass beat chaining one JVM fold per merge
    ~3× at 24 merges."""
    from pyspark.sql.types import ArrayType, StringType

    pairs = [(l, r) for _rank, l, r, _cnt in sorted(merges, key=lambda m: m[0])]

    @F.pandas_udf(ArrayType(StringType()))
    def _encode(words: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}
        out = []
        for w in words:
            syms = cache.get(w)
            if syms is None:
                # JVM parity: split(w, '') yields [''] for the empty
                # word, so its symbols are ['', '</w>'], not ['</w>']
                syms = (list(w) if w else [""]) + [_EOW]
                for l, r in pairs:
                    fused = l + r
                    nxt: list[str] = []
                    for s in syms:
                        if nxt and nxt[-1] == l and s == r:
                            nxt[-1] = fused
                        else:
                            nxt.append(s)
                    syms = nxt
                cache[w] = syms
            out.append(syms)
        return pd.Series(out)

    return vocab.withColumn("syms", _encode(F.col("word"))).withColumn(
        "n_tokens", F.size("syms").cast("bigint")
    )


def bpe_token_stats(
    df: DataFrame,
    merges,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document BPE token accounting under a trained merge table —
    the token-budget pass that feeds sequence packing and mixture math:
    ``(id, n_words, n_bpe_tokens, n_chars)``.

    Scale shape: per-word token counts are computed ONCE on the distinct
    word table (`encode_vocab_bpe`); the corpus-scale side is one
    explode + a term-keyed join (left to Catalyst/AQE — a web-scale
    vocabulary must not be force-broadcast) + one partial-agg groupBy on
    the document id.  Documents with no tokens surface with zero counts
    (left join from the doc list), mirroring explode-drop semantics
    downstream engines trip on."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.when(
                F.length(F.trim(F.col(text_col))) == 0,
                F.array().cast("array<string>"),
            ).otherwise(words)
        ).alias("word"),
    )
    per_word = encode_vocab_bpe(
        toks.select("word").distinct(), merges
    ).select("word", "n_tokens")
    per_doc = (
        toks.join(per_word, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_tokens").cast("bigint").alias("n_bpe_tokens"),
        )
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.length(F.col(text_col)).cast("bigint").alias("n_chars"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0))
            .cast("bigint")
            .alias("n_bpe_tokens"),
            "n_chars",
        )
    )


def encode_word_local(word: str, merges) -> list[str]:
    """Plain-Python greedy encode of one word under a merge table (rank
    order), for the oracle baker and differential tests — independent of
    the JVM fold."""
    syms = list(word) + [_EOW]
    for _rank, l, r, _cnt in sorted(merges, key=lambda m: m[0]):
        out: list[str] = []
        for s in syms:
            if out and out[-1] == l and s == r:
                out[-1] = l + r
            else:
                out.append(s)
        syms = out
    return syms


def train_bpe_local(texts, n_merges: int = 24):
    """Independent plain-Python re-derivation of the same spec (used to
    bake the contract oracle; also the differential test arbiter).
    Deliberately a different implementation strategy: dict-of-tuples
    vocab + Counter pair stats, not array folds."""
    from collections import Counter

    vocab: Counter = Counter()
    for t in texts:
        t = t.strip()
        if not t:
            continue
        for w in t.split():
            vocab[tuple(list(w) + [_EOW])] += 1
    merges = []
    for rank in range(1, n_merges + 1):
        stats: Counter = Counter()
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                stats[(a, b)] += n
        if not stats:
            break
        (l, r), cnt = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, int(cnt)))
        new_vocab: Counter = Counter()
        for syms, n in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            new_vocab[tuple(out)] += n
        vocab = new_vocab
    return merges
