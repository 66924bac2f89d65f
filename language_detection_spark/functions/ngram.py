"""Character n-gram (n=1..3) extraction.

Semantics source: the reference's stateful scanner
(`/root/reference/.../util/NGram.java:26-94`: addChar/get with word reset at
space and ALL-CAPS-run suppression) driven per char by
`Detector._extractNGrams` (Detector.java:364-379) and
`LangProfile.update` (LangProfile.java:172-189).

Two entry points with identical semantics:

* ``NGramScanner`` — the faithful per-char scanner (golden-test surface and
  seeded-parity path).
* ``extract_gram_keys_batch`` — the **fully vectorized** numpy
  re-derivation used in the hot path, one pass over every document of a
  batch (``extract_gram_keys`` is its one-document form).  The scanner's
  behavior reduces to closed-form per-position rules over the
  space-padded normalized UTF-16 unit array S (pad models the initial
  " " buffer, NGram.java:28):

    - run length  r[i] = min(3, i - last_reset(i) + 1), where a *reset*
      is any i with S[i]==' ' and S[i-1]==' ' (the buffer collapses to " "
      exactly when a space lands on a space), plus i=0;
    - capital-word suppression: grams at i are suppressed iff
      isUpper(S[i]) and isUpper(S[i-1])  (derivation: the scanner's
      m_bCapitalWord flag is set only by an upper following an upper and
      cleared otherwise, so it is live exactly at such positions);
    - emit the 1-gram S[i] iff S[i]!=' '; the 2-gram S[i-1..i] iff r[i]>=2;
      the 3-gram S[i-2..i] iff r[i]>=3.

  Grams are packed into int64 keys (17 bits per UTF-16 unit, low=first
  char), which makes model lookup a vectorized ``searchsorted`` instead of
  per-gram dict hits.

Like the reference (Java chars), we operate on UTF-16 code units, so
supplementary characters behave identically (surrogate halves pass through
normalization untouched and are never uppercase).
"""

from __future__ import annotations

import numpy as np

from .normalize import CHAR_FOLD, IS_UPPER, SPACE, str_to_utf16_units, units_to_str

N_GRAM = 3
_SHIFT = 17


def pack_gram(gram: str) -> int:
    """Pack a 1..3-char gram (UTF-16 units) into its int64 key."""
    u = str_to_utf16_units(gram)
    key = 0
    for i, c in enumerate(u):
        key |= int(c) << (_SHIFT * i)
    return key


def unpack_gram(key: int) -> str:
    units = []
    while key:
        units.append(key & ((1 << _SHIFT) - 1))
        key >>= _SHIFT
    return units_to_str(np.array(units, dtype=np.uint32))


class NGramScanner:
    """Faithful per-char scanner (NGram.java:26-94)."""

    def __init__(self) -> None:
        self.grams = " "
        self.capital = False

    def add_char(self, c: str) -> None:
        cp = ord(c)
        n = chr(int(CHAR_FOLD[cp])) if cp < 0x10000 else c
        last = self.grams[-1]
        if last == " ":
            self.grams = " "
            self.capital = False
            if n == " ":
                return
        elif len(self.grams) >= N_GRAM:
            self.grams = self.grams[1:]
        self.grams += n
        if ord(n) < 0x10000 and IS_UPPER[ord(n)]:
            if ord(last) < 0x10000 and IS_UPPER[ord(last)]:
                self.capital = True
        else:
            self.capital = False

    def get(self, n: int) -> str | None:
        if self.capital:
            return None
        if n < 1 or n > N_GRAM or len(self.grams) < n:
            return None
        if n == 1:
            ch = self.grams[-1]
            return None if ch == " " else ch
        return self.grams[-n:]


def extract_ngrams_scanner(text: str) -> list[str]:
    """Reference-ordered gram list via the faithful scanner
    (Detector._extractNGrams without the known-gram filter)."""
    out: list[str] = []
    sc = NGramScanner()
    for ch in text:
        # iterate UTF-16 units like Java charAt (split supplementary chars
        # into surrogate halves)
        cp = ord(ch)
        if cp < 0x10000:
            units = (ch,)
        else:
            v = cp - 0x10000
            units = (chr(0xD800 + (v >> 10)), chr(0xDC00 + (v & 0x3FF)))
        for unit in units:
            sc.add_char(unit)
            for n in range(1, N_GRAM + 1):
                w = sc.get(n)
                if w is not None:
                    out.append(w)
    return out


def extract_gram_keys_batch(texts: list[str]) -> list[np.ndarray]:
    """Gram keys of every document (all gram *instances*; the multiset
    matches the scanner's) in one vectorized pass over ALL documents'
    characters instead of ~20 numpy dispatches per document (which
    dominate cost on short texts).

    Per document the order is fixed — 1-grams in position order, then
    2-grams, then 3-grams — because detector draws index positionally
    into the key array.  Construction: every document is
    prefixed with one space (the scanner's initial " " buffer, exactly the
    per-doc pad); that separator position itself is masked out of emission,
    which reproduces per-doc behavior at both boundaries (the space still
    participates as the LEADING unit of the next doc's word-boundary grams,
    and no gram is emitted AT it, matching the end-of-text cutoff)."""
    n_docs = len(texts)
    if n_docs == 0:
        return []
    units = [str_to_utf16_units(t) for t in texts]
    lens = np.fromiter((u.size for u in units), dtype=np.int64, count=n_docs)
    seg = lens + 1  # +1 pad space per doc
    total = int(seg.sum())
    S = np.empty(total, dtype=np.uint32)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(seg[:-1], out=starts[1:])
    S[starts] = SPACE
    body = np.concatenate([u for u in units if u.size]) if lens.sum() else (
        np.empty(0, dtype=np.uint32)
    )
    mask_pad = np.zeros(total, dtype=bool)
    mask_pad[starts] = True
    S[~mask_pad] = CHAR_FOLD[body]

    is_sp = S == SPACE
    u8 = IS_UPPER[S]
    m = S.size
    idx = np.arange(m, dtype=np.int64)
    # treat every pad as a reset anchor exactly like the per-doc S[0]
    last_sp = np.maximum.accumulate(np.where(is_sp, idx, 0))
    jsp = np.empty(m, dtype=np.int64)
    jsp[0] = 0
    jsp[1:] = last_sp[:-1]
    r = np.minimum(3, idx - jsp + 1)
    both_sp = np.zeros(m, dtype=bool)
    both_sp[1:] = is_sp[1:] & is_sp[:-1]
    r[both_sp] = 1
    # r must not look past a doc's own pad: positions 0..2 of each doc get
    # capped by construction (pad is a space, so jsp >= pad index) — no
    # cross-doc run can survive the pad, same as the per-doc arrays.

    ok = np.empty(m, dtype=bool)
    ok[0] = False
    ok[1:] = ~(u8[1:] & u8[:-1])
    ok[mask_pad] = False  # never emit AT a pad position (end-of-doc cutoff)

    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), seg)
    S64 = S.astype(np.int64)
    out_per_n: list[tuple[np.ndarray, np.ndarray]] = []
    m1 = ok & ~is_sp
    out_per_n.append((doc_of[m1], S64[m1]))
    m2 = ok & (r >= 2)
    i2 = idx[m2]
    out_per_n.append((doc_of[m2], S64[i2 - 1] | (S64[i2] << _SHIFT)))
    m3 = ok & (r >= 3)
    i3 = idx[m3]
    out_per_n.append(
        (
            doc_of[m3],
            S64[i3 - 2] | (S64[i3 - 1] << _SHIFT) | (S64[i3] << (2 * _SHIFT)),
        )
    )
    # per-doc arrays: concat the three per-n segments (each already ordered
    # by doc then position — same grouping as the per-doc extractor)
    bounds = [
        np.searchsorted(d, np.arange(n_docs + 1)) for d, _ in out_per_n
    ]
    result = []
    for d in range(n_docs):
        parts = [
            keys[b[d] : b[d + 1]] for (_, keys), b in zip(out_per_n, bounds)
        ]
        result.append(
            np.concatenate(parts) if any(p.size for p in parts)
            else np.empty(0, dtype=np.int64)
        )
    return result


def extract_gram_keys(text: str) -> np.ndarray:
    """One document's gram keys (see :func:`extract_gram_keys_batch`)."""
    return extract_gram_keys_batch([text])[0]
