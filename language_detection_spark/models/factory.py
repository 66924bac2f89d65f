"""Detector model: per-gram P(gram|lang) vectors over languages, packed into
dense numpy matrices for vectorized scoring and shipped to executors as a
Spark broadcast (never a join — the model is MBs, the corpus is 10^12 rows).

Semantics source: /root/reference/.../DetectorFactory.java
  * profile-dir load:  DetectorFactory.java:79-102  (skip dotfiles)
  * json-string load:  DetectorFactory.java:115-132 (>=2 profiles required)
  * addProfile:        DetectorFactory.java:140-163 (prob = freq /
                       n_words[len-1], one vector slot per language index —
                       the "4x faster" transposed layout we keep as a dense
                       (n_grams, n_langs) float64 matrix)

Additional surface mirrored from the byte-NB classifier half of the
reference (`com.carrotsearch.labs.langid`):
  * language-subset projection (Model.java:110-142) → :meth:`subset`
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np

from ..functions.ngram import _SHIFT, pack_gram, unpack_gram
from .profile import LangProfile, _ulen


def _gram_len(keys: np.ndarray) -> np.ndarray:
    """Gram length (1..3) of packed gram keys."""
    return (
        1
        + (keys >= (1 << _SHIFT)).astype(np.int64)
        + (keys >= (1 << (2 * _SHIFT))).astype(np.int64)
    )


class DetectorModel:
    """Immutable word→P(gram|lang) model in matrix form.

    Attributes
    ----------
    langs : list[str]           language order (profile load order)
    keys  : int64[n_grams]      sorted packed gram keys
    probs : float64[n_grams, n_langs]   P(gram|lang)
    counts: int64[n_grams, n_langs]     raw freq counts (perplexity LM reuse)
    n_words : int64[n_langs, 3]         per-length totals per language
    """

    def __init__(self, langs, keys, probs, counts=None, n_words=None) -> None:
        self.langs = list(langs)
        order = np.argsort(keys, kind="stable")
        self.keys = np.asarray(keys, dtype=np.int64)[order]
        self.probs = np.asarray(probs, dtype=np.float64)[order]
        self.n_words = None if n_words is None else np.asarray(n_words, dtype=np.int64)
        # counts are NOT materialized when reconstructible: probs were built
        # as count / n_words[lang, gram_len-1], and count < 2^53, so
        # rint(probs * denom) recovers them exactly — dropping the second
        # (n_grams, n_langs) int64 matrix halves the broadcast payload
        # (73 MB → 37 MB for the bundled 53 profiles; × executors at scale)
        if counts is not None and self.n_words is None:
            self._counts = np.asarray(counts, dtype=np.int64)[order]
        else:
            self._counts = None

    def __getstate__(self):
        # never ship the reconstructible counts cache in a broadcast —
        # executors gather the cells the LM reads via counts_at
        state = self.__dict__.copy()
        if state.get("n_words") is not None:
            state["_counts"] = None
        return state

    @property
    def counts(self):
        """int64[n_grams, n_langs] raw freq counts — lazily reconstructed
        on first access, see __init__.  The perplexity LM reads
        :meth:`counts_at` instead, which never builds this matrix."""
        if self._counts is None and self.n_words is not None:
            denom = self.n_words.T[_gram_len(self.keys) - 1]  # (n_grams, n_langs)
            self._counts = np.rint(self.probs * denom).astype(np.int64)
        return self._counts

    @property
    def has_counts(self) -> bool:
        """Whether raw counts are stored or reconstructible."""
        return self._counts is not None or self.n_words is not None

    def counts_at(self, rows: np.ndarray, langs) -> np.ndarray:
        """``counts[rows, langs]`` without materializing ``counts``: the
        same ``rint(probs * n_words[lang, len-1])`` the property applies to
        the whole matrix, evaluated only at the gathered cells, so the
        result is bit-identical and the full int64 matrix (as large as
        ``probs``) is never built on an executor."""
        if self.n_words is None:
            return self.counts[rows, langs]
        denom = self.n_words[langs, _gram_len(self.keys[rows]) - 1]
        return np.rint(self.probs[rows, langs] * denom).astype(np.int64)

    # ------------------------------------------------------------------
    @classmethod
    def from_profiles(cls, profiles: list[LangProfile]) -> "DetectorModel":
        langs = [p.name for p in profiles]
        if len(set(langs)) != len(langs):
            raise ValueError("duplicate language profile")
        key_index: dict[int, int] = {}
        rows_probs: list[np.ndarray] = []
        rows_counts: list[np.ndarray] = []
        n_langs = len(langs)
        n_words = np.zeros((n_langs, 3), dtype=np.int64)
        for li, p in enumerate(profiles):
            n_words[li] = p.n_words
            for gram, count in p.freq.items():
                ln = _ulen(gram)  # UTF-16 units, like Java's length()
                if not (1 <= ln <= 3):
                    continue
                denom = p.n_words[ln - 1]
                prob = count / denom if denom else 0.0
                k = pack_gram(gram)
                i = key_index.get(k)
                if i is None:
                    i = len(rows_probs)
                    key_index[k] = i
                    rows_probs.append(np.zeros(n_langs))
                    rows_counts.append(np.zeros(n_langs, dtype=np.int64))
                rows_probs[i][li] = prob
                rows_counts[i][li] = count
        keys = np.fromiter(key_index.keys(), dtype=np.int64, count=len(key_index))
        return cls(langs, keys, np.array(rows_probs), np.array(rows_counts), n_words)

    @classmethod
    def load_directory(cls, profile_dir: str | Path) -> "DetectorModel":
        """Load every (non-dot) profile JSON file in a directory; language
        order = sorted file order (deterministic across filesystems, unlike
        the reference's File.listFiles order — order only fixes vector slots,
        it never changes results)."""
        d = Path(profile_dir)
        files = sorted(
            f for f in d.iterdir() if f.is_file() and not f.name.startswith(".")
        )
        if not files:
            raise FileNotFoundError(f"Not found profile: {profile_dir}")
        return cls.from_profiles([LangProfile.load(f) for f in files])

    @classmethod
    def load_json_strings(cls, json_profiles: list[str]) -> "DetectorModel":
        if len(json_profiles) < 2:
            raise ValueError("Need more than 2 profiles")
        return cls.from_profiles([LangProfile.from_json(s) for s in json_profiles])

    # ------------------------------------------------------------------
    def subset(self, langs: list[str]) -> "DetectorModel":
        """Project the model onto a language subset (>=2), mirroring
        LangIdV3's detectOnly (Model.java:110-142)."""
        if len(langs) < 2:
            raise ValueError("A subset model must have at least 2 languages")
        idx = [self.langs.index(l) for l in langs]
        return DetectorModel(
            [self.langs[i] for i in idx],
            self.keys.copy(),
            self.probs[:, idx],
            # counts reconstruct lazily from the sliced probs/n_words
            None,
            None if self.n_words is None else self.n_words[idx],
        )

    def lookup_rows(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized gram-key → model-row lookup; -1 where unknown
        (the known-gram filter, Detector.java:374)."""
        pos = np.searchsorted(self.keys, keys)
        pos = np.clip(pos, 0, self.keys.size - 1)
        hit = self.keys[pos] == keys
        return np.where(hit, pos, -1)

    def grams(self) -> list[str]:
        return [unpack_gram(int(k)) for k in self.keys]

    # ------------------------------------------------------------------
    def save_npz(self, path: str | Path) -> None:
        np.savez_compressed(
            path,
            langs=np.array(self.langs, dtype=object),
            keys=self.keys,
            probs=self.probs,
            counts=self.counts if self.counts is not None else np.empty(0),
            n_words=self.n_words if self.n_words is not None else np.empty(0),
        )

    @classmethod
    def load_npz(cls, path: str | Path) -> "DetectorModel":
        z = np.load(path, allow_pickle=True)
        counts = z["counts"] if z["counts"].size else None
        n_words = z["n_words"] if z["n_words"].size else None
        return cls(list(z["langs"]), z["keys"], z["probs"], counts, n_words)


_MODEL_CACHE: dict[str, DetectorModel] = {}


def _load_bundled(name: str) -> DetectorModel:
    """Load the packaged profile set via importlib.resources — works when
    the package is imported from ``pipeline.zip`` (no real directory)."""
    from importlib import resources

    root = resources.files("language_detection_spark.data").joinpath(name)
    texts = [
        t.read_text(encoding="utf-8")
        for t in sorted(root.iterdir(), key=lambda t: t.name)
        if t.is_file() and not t.name.startswith(".")
    ]
    return DetectorModel.from_profiles(
        [LangProfile.from_json(s) for s in texts]
    )


def load_default_model(profile_dir: str | None = None) -> DetectorModel:
    from ..config import DEFAULT_PROFILE_DIR

    d = profile_dir or DEFAULT_PROFILE_DIR
    if d not in _MODEL_CACHE:
        if os.path.isdir(d):
            _MODEL_CACHE[d] = DetectorModel.load_directory(d)
        elif d.startswith("bundled:"):
            _MODEL_CACHE[d] = _load_bundled(d.split(":", 1)[1])
        else:
            raise FileNotFoundError(
                f"profile dir {d!r} missing — set LANGDETECT_PROFILE_DIR or "
                "train profiles with models.trainer"
            )
    return _MODEL_CACHE[d]
