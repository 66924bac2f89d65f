"""Single-pass vectorized NB language classifier — the "fastText-style"
scale path (I5-I8 in SURVEY.md §2.5).

Semantics mirror the reference's second detector, the langid.py port
(`com.carrotsearch.labs.langid`, Lui & Baldwin ACL 2012):
  * log-space NB dot product over feature counts: LangIdV3.java:259-284
  * argmax best class:                            LangIdV3.java:203-214
  * softmax confidence 1/Σexp(p_i−p_c):           LangIdV3.java:244-254
  * full rank over all languages:                 LangIdV3.java:227-239
  * language-subset projection:                   Model.java:110-142
    (exposed as DetectorModel.subset)

Instead of the byte-DFA feature extractor + serialized float matrix, we
reuse our char 1-3-gram features and profile-derived P(gram|lang): scoring
is one sparse-gather + segment-sum per document — no sampling loop, fully
deterministic, ~1-2 orders faster than the sampling detector.  Feature
weights: log(alpha/BASE_FREQ + P(gram|lang)), the same per-update factor
as the sampling detector (Detector.java:396-400), so both detectors agree
on separable documents.
"""

from __future__ import annotations

import numpy as np

from ..config import ALPHA_DEFAULT, BASE_FREQ, UNKNOWN_LANG
from ..functions.ngram import extract_gram_keys_batch
from ..functions.normalize import prepare_text, purge_latin_if_minor
from ..models.factory import DetectorModel


class FastLangID:
    def __init__(self, model: DetectorModel, alpha: float = ALPHA_DEFAULT) -> None:
        self.model = model
        self.langs = model.langs
        with np.errstate(divide="ignore"):
            self.logw = np.log(alpha / BASE_FREQ + model.probs)  # (G, L)

    def scores_batch(self, texts) -> list[np.ndarray | None]:
        """Per-document NB score vectors (None for a None text or one with
        no known gram) from ONE vectorized gram extraction and ONE model
        lookup (searchsorted) across the whole batch, then a small
        per-doc gather+matmul.  The normalized score — mean log-weight
        per feature instance — keeps scores length-invariant
        (confidence comparable across docs)."""
        prepared = [
            "" if t is None else purge_latin_if_minor(prepare_text(t))
            for t in texts
        ]
        keys_list = extract_gram_keys_batch(prepared)
        sizes = [k.size for k in keys_list]
        all_rows = self.model.lookup_rows(
            np.concatenate(keys_list) if sum(sizes) else np.empty(0, np.int64)
        )
        offsets = np.cumsum([0] + sizes)
        out: list[np.ndarray | None] = []
        for i in range(len(prepared)):
            rows = all_rows[offsets[i] : offsets[i + 1]]
            rows = rows[rows >= 0]
            if rows.size == 0:
                out.append(None)
                continue
            ur, counts = np.unique(rows, return_counts=True)
            out.append((counts @ self.logw[ur]) / counts.sum())
        return out

    def classify_batch(self, texts) -> tuple[list[str], np.ndarray]:
        """Top-1 language per text with the LangIdV3-style normalized
        confidence 1 / Σ exp(s_i − s_best); "unknown"/0.0 without
        features."""
        langs: list[str] = []
        confs = np.zeros(len(texts))
        for i, s in enumerate(self.scores_batch(texts)):
            if s is None:
                langs.append(UNKNOWN_LANG)
                continue
            best = int(np.argmax(s))
            langs.append(self.langs[best])
            confs[i] = 1.0 / np.exp(s - s[best]).sum()
        return langs, confs

    def classify(self, text: str) -> tuple[str, float]:
        langs, confs = self.classify_batch([text])
        return langs[0], float(confs[0])

    def rank(self, text: str) -> list[tuple[str, float]]:
        """All languages with softmax confidences, descending."""
        s = self.scores_batch([text])[0]
        if s is None:
            return []
        e = np.exp(s - s.max())
        p = e / e.sum()
        order = np.argsort(-p, kind="stable")
        return [(self.langs[int(i)], float(p[i])) for i in order]
