"""KenLM-style character-trigram perplexity scoring (Q2 in SURVEY.md §2.7).

Reuses the *same trained profile counts* as a backoff char-trigram LM —
the reference's profiles are char-trigram count tables (LangProfile.java:
31-33), so  P(c3 | c1 c2) = (count3 + a) / (count2 + a·V)  with add-a
smoothing over the model's gram vocabulary; a document's perplexity is
exp(-mean log P) over its 3-gram instances.  Vectorized with the packed
gram keys: a 3-gram key's low 34 bits are exactly its 2-char prefix key,
and one lookup pair serves every document of a batch.
"""

from __future__ import annotations

import numpy as np

from ..functions.ngram import extract_gram_keys_batch
from ..functions.normalize import prepare_text
from ..models.factory import DetectorModel

_PREFIX_MASK = (1 << 34) - 1
_THREE_GRAM_MIN = 1 << 34


def perplexity_many_from_keys(
    model: DetectorModel,
    keys_list,
    lang_indices,
    alpha: float = 0.1,
) -> np.ndarray:
    """Perplexity of each document's packed gram keys under the LM of
    ``lang_indices[i]`` (None or < 0: not scored).  ONE searchsorted
    pair over the concatenated 3-gram keys of every scored document
    instead of two per document (the per-doc lookups dominated annotate
    cost after detection itself was batched).

    Batch composition never changes a value: every element of c3/c2/logp
    is computed per element, and each document's mean runs on its own
    contiguous slice, so numpy's pairwise summation blocks as it would
    on that document alone.  Returns nan where undefined (no 3-gram);
    a model without counts is an error."""
    if not model.has_counts:
        raise ValueError("model has no raw counts (needed for the LM)")
    out = np.full(len(keys_list), np.nan)
    docs: list[int] = []
    segs: list[np.ndarray] = []
    lens: list[int] = []
    lis: list[int] = []
    for i, (k, li) in enumerate(zip(keys_list, lang_indices)):
        if li is None or li < 0:
            continue
        k3 = k[k >= _THREE_GRAM_MIN]
        if k3.size == 0:
            continue
        docs.append(i)
        segs.append(k3)
        lens.append(k3.size)
        lis.append(int(li))
    if not docs:
        return out
    cat = np.concatenate(segs)
    V = float(model.keys.size)
    r3 = model.lookup_rows(cat)
    r2 = model.lookup_rows(cat & _PREFIX_MASK)
    ln = np.asarray(lens)
    li_rep = np.repeat(np.asarray(lis), ln)
    c3 = np.where(r3 >= 0, model.counts_at(np.maximum(r3, 0), li_rep), 0)
    c2 = np.where(r2 >= 0, model.counts_at(np.maximum(r2, 0), li_rep), 0)
    logp = np.log(c3 + alpha) - np.log(c2 + alpha * V)
    hi = np.cumsum(ln)
    lo = hi - ln
    for j, i in enumerate(docs):
        out[i] = float(np.exp(-logp[lo[j] : hi[j]].mean()))
    return out


def perplexity_batch(
    model: DetectorModel,
    texts,
    lang_indices,
    alpha: float = 0.1,
) -> np.ndarray:
    # None texts get no keys (and a None text was never scored before);
    # docs with li < 0 are skipped inside the batched scorer anyway
    prepared = [prepare_text(t) if t is not None else "" for t in texts]
    keys_list = extract_gram_keys_batch(prepared)
    return perplexity_many_from_keys(model, keys_list, lang_indices, alpha)
