"""Distributed profile training (T1-T4 in SURVEY.md §2.4) — the Spark form
of the reference's --genprofile pipeline (GenProfile.java:121-144 +
LangProfile.update/omitLessFreq/JSON sink).

Plan: explode per-document grams (Arrow-batched extractor) →
``groupBy(gram).count()`` — Spark's partial+final hash aggregation is the
map-side-combine the reference does in its in-memory freq map, but
distributed; one shuffle total at gram-key granularity.  The trim (T3) and
probability assembly (T4) run on the aggregated counts (KBs per language),
driver-side, preserving the reference's mutate-order semantics exactly by
reusing LangProfile.omit_less_freq.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..functions.ngram import extract_gram_keys_batch, unpack_gram
from ..functions.normalize import normalize_vi
from .factory import DetectorModel
from .profile import LangProfile


def gram_keys_udf():
    """text → array of packed gram keys (training path: normalize_vi then
    scan, no scrub/cap — LangProfile.update semantics), one extraction
    pass per Arrow batch; a None text gets no keys."""

    @F.pandas_udf(ArrayType(LongType()))
    def _grams(texts: pd.Series) -> pd.Series:
        keys = extract_gram_keys_batch(
            ["" if t is None else normalize_vi(t) for t in texts]
        )
        return pd.Series([k.tolist() for k in keys], index=texts.index)

    return _grams


def gram_counts(docs: DataFrame, text_col: str = "text",
                lang_col: str | None = None) -> DataFrame:
    """T1: (lang?, gram_key) → count.  One shuffle (the groupBy)."""
    g = docs.select(
        *([F.col(lang_col).alias("lang")] if lang_col else []),
        F.explode(gram_keys_udf()(F.col(text_col))).alias("gram_key"),
    )
    keys = (["lang"] if lang_col else []) + ["gram_key"]
    return g.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


def profile_from_counts(counts_pdf: pd.DataFrame, name: str) -> LangProfile:
    """Aggregated (gram_key, n) rows → LangProfile (driver-side; profile
    sizes are KB-MB)."""
    from .profile import _ulen

    p = LangProfile(name)
    freq: dict[str, int] = {}
    n_words = [0, 0, 0]
    for key, n in zip(counts_pdf["gram_key"], counts_pdf["n"]):
        gram = unpack_gram(int(key))  # unpack is already canonical
        freq[gram] = freq.get(gram, 0) + int(n)
        n_words[_ulen(gram) - 1] += int(n)
    p.freq = freq
    p.n_words = n_words
    return p


def train_profiles(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    trim: bool = True,
) -> list[LangProfile]:
    """Full training job: one distributed agg, then per-language trim (T3)
    with reference order semantics."""
    counts = gram_counts(docs, text_col, lang_col).toPandas()
    profiles = []
    for name, sub in counts.groupby("lang"):
        p = profile_from_counts(sub, str(name))
        if trim:
            p.omit_less_freq()
        profiles.append(p)
    return sorted(profiles, key=lambda p: p.name)


def merge_profiles(a: LangProfile, b: LangProfile) -> LangProfile:
    """T2: incremental training merge (LangProfile.java:100-118)."""
    out = LangProfile(a.name)
    out.freq = dict(a.freq)
    out.n_words = list(a.n_words)
    out.merge(b)
    return out


def train_model(spark: SparkSession, docs: DataFrame, **kw) -> DetectorModel:
    return DetectorModel.from_profiles(train_profiles(spark, docs, **kw))
