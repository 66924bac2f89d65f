"""Arrow-vectorized UDF surface (SURVEY.md §2.8) — the only places per-row
compute crosses into Python, all pandas/Arrow batched (no per-row Python
UDFs anywhere, per the engine contract):

1. ``extract_text_udf``          html → text          (P7)
2. ``make_annotate_udf(model)``  (url, text) → struct(lang, lang_conf, ppl)
                                 wrapping P1-P6 + F1-F2 + I1-I4 + Q2
3. ``make_detect_udf(model)``    (url, text) → struct(lang, lang_conf)
4. ``make_fast_langid_udf(model, spark)`` text → FastLangID top-1 label

How the detector model travels: with a session, the UDF closure holds
only the Spark broadcast handle (:func:`_model_ref`), never the model
itself, so the pickled UDF command stays a few KB and each Python worker
deserializes exactly one copy of the model — the broadcast's, once per
worker process.  The perplexity LM gathers the raw counts it needs from
that copy (:meth:`DetectorModel.counts_at`) instead of materializing a
second full-size counts matrix.  Without a session (``spark=None``) the
closure keeps the model for local, in-process use.
"""

from __future__ import annotations

import functools
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..models.factory import DetectorModel
from .detector import annotate_batch, detect_batch, doc_seed
from .fast_langid import FastLangID

DETECT_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("lang_conf", DoubleType()),
    ]
)

ANNOTATE_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("lang_conf", DoubleType()),
        StructField("ppl", DoubleType()),
    ]
)


def extract_text_udf():
    from ..sources.pages import extract_text

    @F.pandas_udf(StringType())
    def _extract(htmls: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in htmls:
            yield batch.map(extract_text)

    return _extract


def _seeds_for(urls: pd.Series, texts: pd.Series, salt: int) -> list[int]:
    # per-document deterministic seed: url when present, else the text
    out = []
    for u, t in zip(urls, texts):
        key = u if isinstance(u, str) and u else (t or "")
        out.append(doc_seed(key, salt))
    return out


def _model_ref(model: DetectorModel, spark=None):
    """Zero-argument accessor for the model inside a UDF body.  With a
    session the returned closure captures only the broadcast handle —
    capturing ``model`` too would pickle the whole model into every UDF
    command and give each task its own copy next to the broadcast one."""
    if spark is None:
        return lambda: model
    bc = spark.sparkContext.broadcast(model)
    return lambda: bc.value


def make_detect_udf(model: DetectorModel, spark=None, seed_salt: int = 0):
    get_model = _model_ref(model, spark)

    def _detect(batch: pd.DataFrame) -> pd.DataFrame:
        m = get_model()
        texts = batch["text"]
        seeds = _seeds_for(batch["url"], texts, seed_salt)
        langs, confs, _ = detect_batch(m, list(texts), seeds)
        return pd.DataFrame({"lang": langs, "lang_conf": confs})

    # asNondeterministic stops CollapseProject from inlining (and thus
    # RE-EVALUATING) the UDF once per extracted struct field — without it a
    # select of lang + lang_conf runs the detector twice per row
    f = F.pandas_udf(_detect, DETECT_SCHEMA).asNondeterministic()

    def apply(url_col="url", text_col="text"):
        return f(F.struct(F.col(url_col).alias("url"), F.col(text_col).alias("text")))

    return apply


@functools.lru_cache(maxsize=1)
def _fast_langid_for(model: DetectorModel) -> FastLangID:
    # keyed by model identity: FastLangID's float64 log-weight table is as
    # large as the model itself, so a Python worker builds it once per
    # model copy (the broadcast's) instead of once per task; taking the
    # logs on each batch's gathered rows instead costs 20-36% more
    # scoring CPU
    return FastLangID(model)


def make_fast_langid_udf(model: DetectorModel, spark):
    get_model = _model_ref(model, spark)

    def _cls(texts: pd.Series) -> pd.Series:
        langs, _ = _fast_langid_for(get_model()).classify_batch(list(texts))
        return pd.Series(langs)

    return F.pandas_udf(_cls, StringType())


def make_annotate_udf(model: DetectorModel, spark=None, seed_salt: int = 0,
                      lm_alpha: float = 0.1, engine: str = "sampling"):
    """Single Arrow crossing computing langid + confidence + perplexity.

    ``engine``:
      * "sampling"  — the reference-faithful random-feature-sampling NB
        (bit-parity with the reference's Detector).
      * "langid_v3" — the deterministic byte-DFA NB fast path with the
        reference's real langid.py model (~4× faster); perplexity still
        comes from the profile LM when the predicted language has a
        profile.
    """
    get_model = _model_ref(model, spark)

    def _annotate(batch: pd.DataFrame) -> pd.DataFrame:
        m = get_model()
        texts = list(batch["text"])
        if engine == "langid_v3":
            from .langid_v3 import LangIdV3
            from .perplexity import perplexity_batch

            lid = LangIdV3()
            # unknown_on_featureless: both pipeline engines must agree on
            # empty/featureless docs (lang drives rule_language)
            langs, confs = lid.classify_batch(texts, unknown_on_featureless=True)
            lang_to_idx = {l: i for i, l in enumerate(m.langs)}
            idxs = [lang_to_idx.get(l, -1) for l in langs]
            ppl = perplexity_batch(m, texts, idxs, alpha=lm_alpha)
        else:
            seeds = _seeds_for(batch["url"], batch["text"], seed_salt)
            langs, confs, ppl = annotate_batch(m, texts, seeds, lm_alpha=lm_alpha)
        return pd.DataFrame(
            {
                "lang": langs,
                "lang_conf": confs,
                "ppl": [None if np.isnan(p) else float(p) for p in ppl],
            }
        )

    # see make_detect_udf: prevents one-UDF-eval-per-extracted-field
    f = F.pandas_udf(_annotate, ANNOTATE_SCHEMA).asNondeterministic()

    def apply(url_col="url", text_col="text"):
        return f(F.struct(F.col(url_col).alias("url"), F.col(text_col).alias("text")))

    return apply
