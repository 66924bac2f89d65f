"""Language detection — the reference's random-feature-sampling naive-Bayes
detector, in two forms with the same semantics:

* :class:`Detector` — faithful per-document implementation mirroring the
  reference API and draw sequence (Detector.java:214-227 append,
  :233-261 _cleaningText, :301-335 _detectBlock, :343-357 _initProbability,
  :364-379 _extractNGrams, :387-402 _updateLangProb, :423-436 _normalizeProb,
  :443-462 _sortProbability).  Uses the ``java.util.Random`` replica, so a
  seeded run follows the reference's exact sampling order
  (DetectorFactory.setSeed, DetectorFactory.java:210-213).

* :func:`detect_batch` — the vectorized scale path.  Identical math: per
  trial t, alpha_t = alpha + N(0,1)*0.05; iterate
  prob *= alpha_t/10000 + P(gram_r|lang); every 5th iteration renormalize
  and stop when max > 0.99999 (or at the 1000-iteration cap); average the
  per-trial posteriors.  Draws come from a per-document counter-based
  Philox stream (deterministic given the document's seed); the inner loop
  runs every (document, trial) pair of a sub-batch together — see
  ``_detect_many_from_keys`` for the convergence cadence and why linear
  space is numerically safe.
"""

from __future__ import annotations

import numpy as np

from ..config import (
    ALPHA_DEFAULT,
    ALPHA_WIDTH,
    BASE_FREQ,
    CONV_THRESHOLD,
    ITERATION_LIMIT,
    MAX_TEXT_LENGTH,
    N_TRIAL_DEFAULT,
    PROB_THRESHOLD,
    UNKNOWN_LANG,
)
from ..functions.javarandom import JavaRandom
from ..functions.ngram import (
    extract_gram_keys_batch,
    extract_ngrams_scanner,
    pack_gram,
)
from ..functions.normalize import prepare_text, purge_latin_if_minor
from ..models.factory import DetectorModel

# Checkpoint groups per numpy block.  Each group = 5 sampling iterations
# (the renormalize-and-check cadence, Detector.java:322).  Group products
# are computed in float32 — safe because (alpha/BASE_FREQ)^5 ≈ 2.4e-23 is
# far above the float32 minimum — then the cross-group cumprod runs in
# float64 ((2.4e-23)^10 ≈ 1e-226 > fp64 min).  This keeps the per-chunk
# memory traffic ~4× below an all-fp64 formulation, which matters because
# 32 parallel UDF workers saturate memory bandwidth before CPU.
_CHUNK_GROUPS = 10
_GROUP = 5
_MAX_GROUPS = ITERATION_LIMIT // _GROUP + 1  # 201 → ≤1005 draws/trial


class CantDetectError(ValueError):
    """No usable features in text (ELangDetectErrorCode.CantDetectError)."""


class Detector:
    """Faithful per-document detector (reference API shape)."""

    def __init__(self, model: DetectorModel, seed: int | None = None) -> None:
        self.model = model
        self.seed = seed
        self.text = ""
        self.alpha = ALPHA_DEFAULT
        self.n_trial = N_TRIAL_DEFAULT
        self.max_text_length = MAX_TEXT_LENGTH
        self.prior: np.ndarray | None = None
        self._lang_prob: np.ndarray | None = None

    def set_alpha(self, alpha: float) -> None:
        self.alpha = alpha

    def set_trials(self, n: int) -> None:
        self.n_trial = n

    def set_max_text_length(self, n: int) -> None:
        self.max_text_length = n

    def set_prior_map(self, prior: dict[str, float]) -> None:
        p = np.zeros(len(self.model.langs))
        for i, lang in enumerate(self.model.langs):
            v = prior.get(lang)
            if v is not None:
                if v < 0:
                    raise ValueError("Prior probability must be non-negative.")
                p[i] = v
        if p.sum() <= 0:
            raise ValueError("More one of prior probability must be non-zero.")
        self.prior = p / p.sum()

    def append(self, text: str) -> None:
        self.text += prepare_text(text, self.max_text_length)

    def detect(self) -> str:
        probs = self.get_probabilities()
        return probs[0][0] if probs else UNKNOWN_LANG

    def get_probabilities(self) -> list[tuple[str, float]]:
        if self._lang_prob is None:
            self._lang_prob = self._detect_block()
        return sort_probability(self.model.langs, self._lang_prob)

    def _detect_block(self) -> np.ndarray:
        text = purge_latin_if_minor(self.text)
        grams = extract_ngrams_scanner(text)
        rows = [r for r in (self._row(g) for g in grams) if r >= 0]
        if not rows:
            raise CantDetectError("no features in text")
        n_langs = len(self.model.langs)
        lang_prob = np.zeros(n_langs)
        rng = JavaRandom(self.seed)
        for _ in range(self.n_trial):
            prob = (
                self.prior.copy()
                if self.prior is not None
                else np.full(n_langs, 1.0 / n_langs)
            )
            alpha = self.alpha + rng.next_gaussian() * ALPHA_WIDTH
            weight = alpha / BASE_FREQ
            i = 0
            while True:
                r = rows[rng.next_int(len(rows))]
                prob *= weight + self.model.probs[r]
                if i % 5 == 0:
                    s = prob.sum()
                    prob /= s
                    if prob.max() > CONV_THRESHOLD or i >= ITERATION_LIMIT:
                        break
                i += 1
            lang_prob += prob / self.n_trial
        return lang_prob

    def _row(self, gram: str) -> int:
        k = np.array([pack_gram(gram)], dtype=np.int64)
        return int(self.model.lookup_rows(k)[0])


def sort_probability(langs, prob: np.ndarray) -> list[tuple[str, float]]:
    """Threshold at PROB_THRESHOLD, sort descending, stable on ties
    (Detector._sortProbability)."""
    order = np.argsort(-prob, kind="stable")
    return [
        (langs[int(j)], float(prob[j])) for j in order if prob[j] > PROB_THRESHOLD
    ]


# ---------------------------------------------------------------------------
# Vectorized batch path
# ---------------------------------------------------------------------------


# sub-batch packing for the batched sampling call: enough docs to amortize
# numpy dispatch, but capped by TOTAL gram keys so the concatenated gather
# table stays cache-resident (long documents have thousands of unique
# grams each — 128 of them would build a 100+ MB table and turn the
# per-chunk gathers DRAM-bound).  Batch composition never affects values:
# every document keeps its own RNG stream and per-pair reductions.
_SUBBATCH = 128
_SUBBATCH_KEYS = 64000
# chunks of draws fetched per integers() call on multi-chunk documents
# (prefix property makes slices bitwise-equal to separate calls)
_PREFETCH_CHUNKS = 3


def _pack_subbatches(keys_list):
    """Contiguous (lo, hi) ranges: ≤ _SUBBATCH docs and ≤ _SUBBATCH_KEYS
    total keys per range (single oversized docs get their own range)."""
    ranges = []
    lo, total = 0, 0
    for i, k in enumerate(keys_list):
        n = k.size
        if i > lo and (i - lo >= _SUBBATCH or total + n > _SUBBATCH_KEYS):
            ranges.append((lo, i))
            lo, total = i, 0
        total += n
    ranges.append((lo, len(keys_list)))
    return ranges


def _detect_many_from_keys(
    model: DetectorModel,
    keys_list: list[np.ndarray],
    rngs: list,
    alpha: float,
    n_trial: int,
) -> list[np.ndarray | None]:
    """Averaged posterior per document (None when it has no known gram).

    All ``n_trial`` trials of a document run in lockstep from a uniform
    prior; draws are consumed in groups of 5 (the renormalize-and-check
    cadence) so convergence is evaluated at every group boundary,
    matching the reference's every-5-iterations check (this path checks
    after 5,10,… updates; the faithful path after 1,6,11,… — a
    scheduling detail with no semantic effect, and the two paths agree
    on labels, see tests/test_parity_f1.py).  Products stay in linear
    space: see ``_CHUNK_GROUPS`` for why neither the float32 group
    products nor the float64 running product can underflow.

    The chunk loop's gather / prod / product / normalize run ONCE per
    chunk for every still-active (document, trial) pair across the whole
    sub-batch, amortizing numpy dispatch that dominates per-document cost
    on short texts.  Batch composition never changes a value: each
    document draws from its OWN generator in the same order and shapes
    (weights first, then full (T, g, 5) integer tensors per chunk
    regardless of trial convergence), and every floating-point reduction
    runs per (doc, trial) pair over the same operands in the same order
    — batching only changes which python call issues them."""
    n_docs = len(keys_list)
    n_langs = model.probs.shape[1]
    out: list[np.ndarray | None] = [None] * n_docs
    base = np.full(n_langs, 1.0 / n_langs)
    # batched prep: ONE searchsorted over the concatenated keys and ONE
    # unique over doc-offset row ids replace the per-doc lookup/unique loop
    # (which dominates prep cost on short documents).  Offsetting rows by
    # doc*n_rows makes the global sorted-unique identical to concatenating
    # the per-doc uniques in doc order — same pu_cat, same inv values.
    sizes = np.fromiter((k.size for k in keys_list), dtype=np.int64,
                        count=n_docs)
    n_rows_model = model.probs.shape[0]
    if sizes.sum():
        rows_cat = model.lookup_rows(np.concatenate(keys_list))
    else:
        rows_cat = np.empty(0, dtype=np.int64)
    doc_cat = np.repeat(np.arange(n_docs, dtype=np.int64), sizes)
    valid = rows_cat >= 0
    vdoc = doc_cat[valid]
    vvals = vdoc * n_rows_model + rows_cat[valid]
    gu, ginv = np.unique(vvals, return_inverse=True)
    pu_cat = model.probs[gu % n_rows_model].astype(np.float32)
    ms_all = np.bincount(vdoc, minlength=n_docs)  # valid rows per doc
    seg_hi = np.cumsum(ms_all)
    seg_lo = seg_hi - ms_all
    docids: list[int] = []
    invs: list[np.ndarray] = []
    ms: list[int] = []
    weights_l: list[np.ndarray] = []
    for d in range(n_docs):
        if ms_all[d] == 0:
            continue
        # weight draw order per admitted doc is unchanged (doc-ascending)
        w = (
            (alpha + rngs[d].standard_normal(n_trial) * ALPHA_WIDTH) / BASE_FREQ
        ).astype(np.float32)
        docids.append(d)
        invs.append(ginv[seg_lo[d] : seg_hi[d]])
        ms.append(int(ms_all[d]))
        weights_l.append(w)
    if not docids:
        return out
    n_adm = len(docids)
    W = np.stack(weights_l)  # (n_adm, T)
    prob = np.tile(base, (n_adm, n_trial, 1))  # (n_adm, T, L) float64
    done = np.zeros((n_adm, n_trial), dtype=bool)
    result = np.zeros((n_adm, n_trial, n_langs))
    alive = np.arange(n_adm)
    seg_lo_adm = seg_lo[np.asarray(docids, dtype=np.int64)]
    # per-doc draw prefetch: one integers() call yields (k, T, g, 5) —
    # C-order fills chunk-major, so slice [i] is BITWISE the i-th separate
    # (T, g, 5) call on the same stream (prefix property; draws a converged
    # doc never uses are discarded, which cannot affect outputs).  Cuts the
    # per-(doc, chunk) python-call overhead ~k× on multi-chunk docs.
    cache: list[np.ndarray | None] = [None] * n_adm
    cache_pos = [0] * n_adm
    g_done = 0
    while alive.size:
        g = min(_CHUNK_GROUPS, _MAX_GROUPS - g_done)
        draw_raw = np.empty((alive.size, n_trial, g, _GROUP), dtype=np.int64)
        full = g == _CHUNK_GROUPS
        for j, a in enumerate(alive):
            c = cache[a]
            if full and c is not None and cache_pos[a] < c.shape[0]:
                draw_raw[j] = c[cache_pos[a]]
                cache_pos[a] += 1
                continue
            if full and _PREFETCH_CHUNKS > 1 and (
                g_done + _PREFETCH_CHUNKS * g <= _MAX_GROUPS - 1
            ):
                c = rngs[docids[a]].integers(
                    0, ms[a],
                    size=(_PREFETCH_CHUNKS, n_trial, g, _GROUP),
                )
                cache[a] = c
                cache_pos[a] = 1
                draw_raw[j] = c[0]
            else:
                draw_raw[j] = rngs[docids[a]].integers(
                    0, ms[a], size=(n_trial, g, _GROUP)
                )
        # one global gather maps every doc's local row draws through its
        # ginv segment (replaces a per-doc fancy-index in the loop above)
        draw_rows = ginv[draw_raw + seg_lo_adm[alive, None, None, None]]
        act_doc, act_tr = np.nonzero(~done[alive])  # active pairs (local)
        at_cap = g_done + g >= _MAX_GROUPS
        # Per-group sequential evaluation with convergence early-exit.
        # The draw tensor above is already full-size (RNG geometry must not
        # depend on convergence), but the float work below runs group by
        # group and drops each (doc, trial) pair the moment it converges —
        # the median pair converges at ~13 groups, so the all-groups-then-
        # pick-first formulation computed ~10-group chunks it never used
        # (~30-40% of the gather/product flops on this corpus profile).
        # Bitwise-identical to that formulation: gf_j is elementwise per
        # (pair, group); the running float64 product multiplies in
        # np.cumprod's exact order (c_j = c_{j-1} * f64(gf_j)); and
        # ck_j = prob * c_j is normalized per group exactly as before.
        pairs_doc = act_doc
        pairs_tr = act_tr
        P0 = prob[alive[pairs_doc], pairs_tr]        # (P, L) float64
        Wp = W[alive[pairs_doc], pairs_tr]           # (P,) float32
        run: np.ndarray | None = None
        for j in range(g):
            pf = pu_cat[draw_rows[pairs_doc, pairs_tr, j]]  # (P, 5, L) f32
            pf += Wp[:, None, None]
            gf = pf.prod(axis=1)                     # (P, L) f32
            run = gf.astype(np.float64) if run is None else run * gf
            ck = P0 * run
            ck /= ck.sum(axis=1, keepdims=True)
            hits = ck.max(axis=1) > CONV_THRESHOLD
            if at_cap and j == g - 1:
                hits[:] = True
            conv = np.flatnonzero(hits)
            if conv.size:
                gd = alive[pairs_doc[conv]]
                result[gd, pairs_tr[conv]] = ck[conv]
                done[gd, pairs_tr[conv]] = True
            if j == g - 1:
                live = np.flatnonzero(~hits)
                if live.size:
                    prob[alive[pairs_doc[live]], pairs_tr[live]] = ck[live]
                break
            if conv.size:
                live = np.flatnonzero(~hits)
                if live.size == 0:
                    break
                pairs_doc = pairs_doc[live]
                pairs_tr = pairs_tr[live]
                P0 = P0[live]
                Wp = Wp[live]
                run = run[live]
        alive = alive[~done[alive].all(axis=1)]
        g_done += g
    for a, d in enumerate(docids):
        out[d] = result[a].mean(axis=0)
    return out


def _batch_keys(texts, max_text_length: int) -> list:
    """Prepared-text gram keys for a batch: normalization/purge per doc
    (string ops), then ONE vectorized extraction pass across all docs
    (extract_gram_keys_batch — bit-identical per-doc output).

    Both stages are memoized per DISTINCT text within the batch: key
    extraction is a pure per-doc function, so exact-duplicate documents
    (boilerplate, re-crawls — and the replicated bench corpus) share one
    normalization + extraction.  Values are identical by construction;
    only the per-doc RNG/seed state downstream distinguishes copies."""
    norm_cache: dict = {}
    uniq: dict[str, int] = {}
    order: list[str] = []
    idx: list[int] = []
    for text in texts:
        p = norm_cache.get(text)
        if p is None:
            p = (
                "" if text is None
                else purge_latin_if_minor(prepare_text(text, max_text_length))
            )
            norm_cache[text] = p
        j = uniq.get(p)
        if j is None:
            j = len(order)
            uniq[p] = j
            order.append(p)
        idx.append(j)
    uk = extract_gram_keys_batch(order)
    # shared read-only ndarrays: every consumer (lookup, concatenate,
    # perplexity) only reads the key arrays
    return [uk[j] for j in idx]


def doc_seed(doc_key: str, salt: int = 0) -> int:
    """Stable per-document RNG seed from a document key (e.g. url)."""
    import zlib

    return (zlib.crc32(doc_key.encode("utf-8")) ^ salt) & 0xFFFFFFFF


def _detect_keys(model: DetectorModel, keys_list, seeds, alpha: float,
                 n_trial: int):
    """The sampling detector over per-document gram keys: one Philox
    stream per document seed, documents packed into sub-batches, then the
    top-1 language if its posterior clears PROB_THRESHOLD.

    Returns (posteriors, langs, confs, top): ``posteriors[i]`` is None
    when document i has no known gram; ``top[i]`` is the model language
    index, -1 with lang "unknown" and conf 0 when nothing clears."""
    rngs = [np.random.Generator(np.random.Philox(key=int(s))) for s in seeds]
    posteriors: list[np.ndarray | None] = []
    for lo, hi in _pack_subbatches(keys_list):
        posteriors.extend(
            _detect_many_from_keys(
                model, keys_list[lo:hi], rngs[lo:hi], alpha, n_trial
            )
        )
    top = np.full(len(keys_list), -1)
    confs = np.zeros(len(keys_list))
    for i, p in enumerate(posteriors):
        if p is None:
            continue
        j = int(np.argmax(p))
        if p[j] > PROB_THRESHOLD:
            top[i] = j
            confs[i] = p[j]
    langs = [model.langs[j] if j >= 0 else UNKNOWN_LANG for j in top.tolist()]
    return posteriors, langs, confs, top


def annotate_batch(
    model: DetectorModel,
    texts,
    seeds,
    alpha: float = ALPHA_DEFAULT,
    n_trial: int = N_TRIAL_DEFAULT,
    max_text_length: int = MAX_TEXT_LENGTH,
    lm_alpha: float = 0.1,
) -> tuple[list[str], np.ndarray, np.ndarray]:
    """Fused per-document annotate: langid + confidence + char-trigram
    perplexity from ONE gram extraction (the LM reuses the detector's
    post-purge gram keys; both stages share prepare_text).
    Returns (langs, confs, ppl) with ppl = nan where undefined — the LM
    scores only documents whose language cleared the threshold."""
    from .perplexity import perplexity_many_from_keys

    keys_list = _batch_keys(texts, max_text_length)
    _, langs, confs, top = _detect_keys(model, keys_list, seeds, alpha, n_trial)
    ppl = perplexity_many_from_keys(model, keys_list, top, lm_alpha)
    return langs, confs, ppl


def detect_batch(
    model: DetectorModel,
    texts,
    seeds,
    alpha: float = ALPHA_DEFAULT,
    n_trial: int = N_TRIAL_DEFAULT,
    max_text_length: int = MAX_TEXT_LENGTH,
) -> tuple[list[str], np.ndarray, np.ndarray]:
    """Detect a batch of raw texts.

    Returns (langs, confs, posteriors) where ``langs[i]`` is the top-1
    language ("unknown" when the text has no known features),
    ``confs[i]`` its posterior probability, and ``posteriors`` the full
    (n_docs, n_langs) averaged posterior matrix.
    """
    keys_list = _batch_keys(texts, max_text_length)
    posteriors, langs, confs, _ = _detect_keys(
        model, keys_list, seeds, alpha, n_trial
    )
    post = np.zeros((len(texts), len(model.langs)))
    for i, p in enumerate(posteriors):
        if p is not None:
            post[i] = p
    return langs, confs, post
