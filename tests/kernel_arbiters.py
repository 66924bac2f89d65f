"""Per-document arbiters for the batched detector kernels.

The library keeps one implementation of each annotate kernel, the batched
one: ``extract_gram_keys_batch``, ``_detect_many_from_keys``,
``perplexity_many_from_keys`` and ``FastLangID.classify_batch``.  These
are the per-document forms those kernels were derived from, written out
once more so the tests can compare the two bit for bit.  The faithful
reference surfaces (``NGramScanner``, ``Detector``) stay in the library;
they follow the reference's draw order, not the batched kernels'.
"""

from __future__ import annotations

import numpy as np

from language_detection_spark.config import (
    ALPHA_WIDTH,
    BASE_FREQ,
    CONV_THRESHOLD,
    UNKNOWN_LANG,
)
from language_detection_spark.functions.ngram import _SHIFT
from language_detection_spark.functions.normalize import (
    CHAR_FOLD,
    IS_UPPER,
    SPACE,
    prepare_text,
    purge_latin_if_minor,
    str_to_utf16_units,
)
from language_detection_spark.models.factory import DetectorModel
from language_detection_spark.operators.detector import (
    _CHUNK_GROUPS,
    _GROUP,
    _MAX_GROUPS,
)
from language_detection_spark.operators.perplexity import (
    _PREFIX_MASK,
    _THREE_GRAM_MIN,
)


def gram_keys_closed_form(text: str) -> np.ndarray:
    """Vectorized gram extraction → int64 key array (all gram *instances*,
    grouped by n rather than by position; the multiset matches the scanner).
    The closed-form rules are derived in ``functions/ngram.py``.
    """
    raw = str_to_utf16_units(text)
    if raw.size == 0:
        return np.empty(0, dtype=np.int64)
    S = np.empty(raw.size + 1, dtype=np.uint32)
    S[0] = SPACE
    S[1:] = CHAR_FOLD[raw]  # all UTF-16 units are < 0x10000 by construction

    is_sp = S == SPACE
    u = IS_UPPER[S]
    m = S.size
    idx = np.arange(m, dtype=np.int64)

    # jsp[i] = index of the last space at or before i-1 (pad guarantees one);
    # r[i] = buffer length after processing S[i]
    last_sp = np.maximum.accumulate(np.where(is_sp, idx, 0))
    jsp = np.empty(m, dtype=np.int64)
    jsp[0] = 0
    jsp[1:] = last_sp[:-1]
    r = np.minimum(3, idx - jsp + 1)
    both_sp = np.zeros(m, dtype=bool)
    both_sp[1:] = is_sp[1:] & is_sp[:-1]
    r[both_sp] = 1

    ok = np.empty(m, dtype=bool)  # not capital-suppressed
    ok[0] = False
    ok[1:] = ~(u[1:] & u[:-1])

    S64 = S.astype(np.int64)
    out = []
    m1 = ok & ~is_sp
    m1[0] = False
    out.append(S64[m1])
    m2 = ok & (r >= 2)
    m2[:1] = False
    if m2.any():
        i2 = idx[m2]
        out.append(S64[i2 - 1] | (S64[i2] << _SHIFT))
    m3 = ok & (r >= 3)
    m3[:2] = False
    if m3.any():
        i3 = idx[m3]
        out.append(S64[i3 - 2] | (S64[i3 - 1] << _SHIFT) | (S64[i3] << (2 * _SHIFT)))
    return np.concatenate(out) if out else np.empty(0, dtype=np.int64)


def _detect_from_keys(
    model: DetectorModel,
    keys: np.ndarray,
    rng: np.random.Generator,
    alpha: float,
    n_trial: int,
    prior: np.ndarray | None,
) -> np.ndarray | None:
    if keys.size == 0:
        return None
    rows = model.lookup_rows(keys)
    rows = rows[rows >= 0]
    if rows.size == 0:
        return None
    ur, inv = np.unique(rows, return_inverse=True)
    n_langs = model.probs.shape[1]
    base = prior if prior is not None else np.full(n_langs, 1.0 / n_langs)
    weights = (
        (alpha + rng.standard_normal(n_trial) * ALPHA_WIDTH) / BASE_FREQ
    ).astype(np.float32)
    # single float32 gather table; the per-trial weight is added into the
    # gathered chunk tensor in place.  Deliberately NO (T, u, L) per-trial
    # table: that allocation (~300 KB/doc) crosses glibc's mmap threshold
    # and the resulting per-document mmap/munmap churn serializes on kernel
    # TLB shootdowns once tens of workers run in parallel.
    Pu = model.probs[ur].astype(np.float32)  # (u, L)
    m = rows.size
    prob = np.tile(base, (n_trial, 1))  # (T, L) float64
    done = np.zeros(n_trial, dtype=bool)
    result = np.zeros((n_trial, n_langs))
    g_done = 0
    while True:
        g = min(_CHUNK_GROUPS, _MAX_GROUPS - g_done)
        # the draw TENSOR keeps its full (T, g, 5) shape even after trials
        # converge — RNG consumption must not depend on convergence, or
        # per-doc outputs would change; compute is then masked to the
        # still-active trials (values for those are bit-identical to the
        # unmasked form: same draws, same weights, same prob rows)
        draws = inv[rng.integers(0, m, size=(n_trial, g, _GROUP))]
        act = np.flatnonzero(~done)
        pf = Pu[draws[act]]  # (A, g, 5, L) float32 gather
        pf += weights[act, None, None, None]
        gf = pf.prod(axis=2)   # (A, g, L) float32 — safe range, see above
        cg = np.cumprod(gf, axis=1, dtype=np.float64)  # (A, g, L)
        ck = prob[act, None, :] * cg
        ck /= ck.sum(axis=2, keepdims=True)
        maxp = ck.max(axis=2)  # (A, g)
        at_cap = g_done + g >= _MAX_GROUPS
        hits = maxp > CONV_THRESHOLD
        if at_cap:
            hits[:, -1] = True
        # batched first-hit selection (argmax finds the first True)
        first = hits.argmax(axis=1)                    # (A,)
        has = hits[np.arange(act.size), first]
        sel = np.flatnonzero(has)
        if sel.size:
            tsel = act[sel]
            result[tsel] = ck[sel, first[sel]]
            done[tsel] = True
        rest = np.flatnonzero(~has)
        if rest.size == 0:
            break
        prob[act[rest]] = ck[rest, -1, :]
        g_done += g
    return result.mean(axis=0)


def perplexity_from_keys(
    model: DetectorModel, keys: np.ndarray, lang_index: int, alpha: float = 0.1
) -> float | None:
    """LM over already-extracted packed gram keys (shared with detection)."""
    if not model.has_counts:
        raise ValueError("model has no raw counts (needed for the LM)")
    k3 = keys[keys >= _THREE_GRAM_MIN]
    if k3.size == 0:
        return None
    V = float(model.keys.size)
    r3 = model.lookup_rows(k3)
    r2 = model.lookup_rows(k3 & _PREFIX_MASK)
    c3 = np.where(r3 >= 0, model.counts_at(np.maximum(r3, 0), lang_index), 0)
    c2 = np.where(r2 >= 0, model.counts_at(np.maximum(r2, 0), lang_index), 0)
    logp = np.log(c3 + alpha) - np.log(c2 + alpha * V)
    return float(np.exp(-logp.mean()))


def fast_langid_score(fast, text: str) -> np.ndarray | None:
    """``FastLangID``'s per-document NB score: mean log-weight per feature
    instance, None when the text has no known gram."""
    t = purge_latin_if_minor(prepare_text(text))
    keys = gram_keys_closed_form(t)
    if keys.size == 0:
        return None
    rows = fast.model.lookup_rows(keys)
    rows = rows[rows >= 0]
    if rows.size == 0:
        return None
    ur, counts = np.unique(rows, return_counts=True)
    return (counts @ fast.logw[ur]) / counts.sum()


def fast_langid_classify(fast, text: str) -> tuple[str, float]:
    """Per-document ``FastLangID.classify``: argmax of the score and its
    LangIdV3-style confidence 1 / Σ exp(s_i − s_best)."""
    s = fast_langid_score(fast, text)
    if s is None:
        return UNKNOWN_LANG, 0.0
    best = int(np.argmax(s))
    return fast.langs[best], float(1.0 / np.exp(s - s[best]).sum())
