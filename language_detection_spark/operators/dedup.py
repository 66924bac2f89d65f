"""Deduplication operators for large-scale training-data pipelines.

No reference analogue (the reference is a classifier library); semantics
follow the published near-dup literature (Broder 1997 MinHash/shingling;
Charikar 2002 SimHash; Lee et al. 2022 "Deduplicating Training Data Makes
Language Models Better") expressed Spark-first:

* exact_dedup      — hash-groupBy on md5(text): one partial+final agg.
* minhash_signatures / lsh_candidate_pairs / minhash_dedup_pairs —
  shingle → P permuted min-hashes → band buckets → in-bucket pairs →
  exact-Jaccard verification.  All hashing is md5-prefix-int so an
  independent SQL engine (the DuckDB oracle) reproduces values bit-for-bit.
  Scale shape: candidate generation is one aggregation per
  (band, band_hash) bucket that expands its members into pairs — capped
  buckets, no O(n²) join; verification joins shingle sets only for
  candidate pairs.
* simhash_udf / simhash_near_dup_pairs — 60-bit sign-aggregated token
  fingerprint (Arrow-batched numpy UDF over md5_int token hashes), then
  pigeonhole chunk blocking and an exact Hamming check.
* jaccard_for_pairs — exact word-n-gram Jaccard for candidate pairs.
* connected_components / near_dup_clusters — pair graph → canonical
  duplicate clusters: union-find in one task, or alternating large-star/
  small-star (Kiveris et al. 2014) at scale; runs jobs while built.
* build_sig_store / incremental_near_dups — persisted band-partitioned
  signature store for continuous-crawl dedup: only the new batch is ever
  shingled; pairs verify by signature-estimated Jaccard.

The three candidate generators (lsh_candidate_pairs,
simhash_pairs_from_hashes, incremental_near_dups) share one bucket-cap
policy, :func:`_capped_buckets`; ``max_bucket_size`` must be a positive
int there and in every wrapper (``None`` raises ValueError).

All operators key documents by an id column.  What reaches the driver is
small and bounded: the edge count behind connected_components' engine
choice, one 3-value checksum row per CC round, and — while an
``incremental_near_dups`` plan with ``store_buckets`` is built — the
batch's bucket ids (<= store_buckets values) and at most 1025 band
hashes.
"""

from __future__ import annotations

import hashlib
import re
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from ..plans.caching import persist_tracked
from ..plans.repartition import one_task_or_distributed

# --- shared hashing (cross-engine reproducible) ----------------------------


def md5_int(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint — identical in DuckDB
    via ('0x'||substr(md5(x),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


# The Arrow text hashers below reproduce two Spark expressions, and every
# one of them takes both from here:
#
# * the word split ``split(trim(t), '\s+')`` — Java regex ``\s`` is the
#   ASCII class ``[ \t\n\x0B\f\r]`` (Python ``\s`` under ``re.ASCII``;
#   ``str.split()`` would also split on U+00A0, U+3000 and \x1c-\x1f),
#   ``trim`` strips 0x20 only, and Java's split (limit -1) keeps leading
#   and trailing empty fields, as ``re.split`` does;
# * the 60-bit hash :func:`md5_int` — the first 15 hex digits of md5.
_WS = re.compile(r"\s+", re.ASCII)


def split_words(text: str) -> list[str]:
    """Python twin of Spark ``split(trim(text), '\\s+')``."""
    return _WS.split(text.strip(" "))


def word_grams(text: str, k: int) -> list[str]:
    """Word ``k``-grams of :func:`split_words` as single-space joins, one
    per position in occurrence order; empty when there are < k words."""
    words = split_words(text)
    return [" ".join(words[j : j + k]) for j in range(len(words) - k + 1)]


def md5_prefixes(strings) -> np.ndarray:
    """:func:`md5_int` of each string of a sized collection (in iteration
    order) as one int64 array — one call per Arrow batch, not per string."""
    return np.fromiter(
        (int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
         for s in strings),
        dtype=np.int64,
        count=len(strings),
    )


def shingle_set_udf(shingle_k: int = 3):
    """text → array of DISTINCT word ``shingle_k``-shingles
    (:func:`word_grams`) in first-occurrence order; empty for null text
    or < ``shingle_k`` words.  Equal to Spark's ``array_distinct`` of the
    shingle expression (it keeps first occurrence like ``dict.fromkeys``);
    pinned by ``test_shingle_set_udf_matches_expression``.  The
    interpreted JVM transform/concat_ws chain this replaced was the
    dominant cost of the Jaccard verification join."""
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def _sets(texts: pd.Series) -> pd.Series:
        return pd.Series([
            [] if t is None else list(dict.fromkeys(word_grams(t, shingle_k)))
            for t in texts
        ])

    return _sets


# --- exact dedup -----------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each identical text."""
    h = md5_int(F.col(text_col)).alias("text_hash")
    ranked = df.withColumn("text_hash", h).withColumn(
        "_keep_id", F.min(id_col).over(Window.partitionBy("text_hash")),
    )
    return ranked.filter(F.col(id_col) == F.col("_keep_id")).drop("_keep_id")


def exact_dup_clusters(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(text_hash, n_dups, keep_id) for every duplicated text."""
    return (
        df.groupBy(md5_int(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


# --- MinHash + LSH ---------------------------------------------------------

# Affine min-hash permutations over the Mersenne prime 2^61-1: ONE md5 per
# shingle, then sig_p = min over shingles of (a_p*h + b_p) folded mod-P —
# pure int64 arithmetic instead of num_perm md5 calls per shingle; at web
# scale hashing dominates MinHash cost, so this is a ~num_perm× cut of the
# signature stage.  The fold uses 2^61 ≡ 1 (mod P) so every intermediate
# fits int64 (largest ≈ 2^62.8); the final value is fold(a*h+b), not a
# strict mod — identical in numpy and SQL, and min-hash only needs a fixed
# injective-enough ordering, not canonical residues.
_P61 = (1 << 61) - 1
_M30 = (1 << 30) - 1
_M31 = (1 << 31) - 1


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = np.random.Generator(np.random.Philox(key=seed))
    return [
        (int(rng.integers(1, 1 << 31)), int(rng.integers(0, _P61)))
        for _ in range(num_perm)
    ]


def _affine_perm_sql(h_expr: str, a: int, b: int) -> str:
    """fold_P61(a*h + b) for h in [0, 2^60), a < 2^31, b < P, as portable
    SQL: h splits at bit 31, (a*h_hi)*2^31 folds via 2^61 ≡ 1, and every
    intermediate stays below 2^63 (DuckDB BIGINT ops error on overflow
    rather than wrap, so the oracle checks the bound)."""
    return (
        f"(({a} * (({h_expr}) >> 31)) >> 30)"
        f" + ((({a} * (({h_expr}) >> 31)) & {_M30}) << 31)"
        f" + ({a} * (({h_expr}) & {_M31})) + {b}"
    )


def affine_perm_sql(h_expr: str, a: int, b: int) -> str:
    inner = f"({_affine_perm_sql(h_expr, a, b)})"
    return f"(({inner} >> 61) + ({inner} & {_P61}))"


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sig: array<bigint>[num_perm]) — md5 each shingle ONCE, then
    min over shingles of the p-th affine permutation.  Docs with no
    shingles are dropped (cannot be near-dup candidates)."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            minhash_sig_udf(num_perm, shingle_k)(F.col(text_col)).alias("sig"),
        )
        # the UDF returns null for docs with < shingle_k words
        .filter(F.col("sig").isNotNull())
    )


def minhash_sig_udf(num_perm: int = 16, shingle_k: int = 3):
    """text → MinHash signature (Arrow-batched numpy; null when the doc
    has fewer than ``shingle_k`` words).

    Bit-identical to the DuckDB oracle (``affine_perm_sql``) and to the
    Catalyst expression arbiter in the tests, by construction:

    * shingles — :func:`word_grams` (the Spark word split);
    * shingle hash — :func:`md5_prefixes`, one md5 per DISTINCT shingle
      per batch (min over a multiset equals min over its support, so
      batch-level dedup cannot change any value);
    * permutation — the int64 fold of ``_affine_perm_sql`` (every
      intermediate < 2^63); numpy int64 ops match JVM long ops exactly.

    Catalyst's per-shingle md5 → hex-string → conv(…,16,10) round trip
    cost ~5× this batched path (sf0.1 signature stage 3.2 s → 0.5 s).
    """
    from pyspark.sql.types import ArrayType

    params = _perm_params(num_perm)
    A = np.array([p[0] for p in params], dtype=np.int64)[:, None]
    B = np.array([p[1] for p in params], dtype=np.int64)[:, None]

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        occ: list[int] = []          # unique-shingle index per occurrence
        starts: list[int] = []       # segment start per doc with shingles
        keep: list[int] = []         # row index of docs with shingles
        uniq: dict[str, int] = {}
        for i, t in enumerate(texts):
            if t is None:
                continue
            grams = word_grams(t, shingle_k)
            if not grams:
                continue
            keep.append(i)
            starts.append(len(occ))
            for s in grams:
                ix = uniq.get(s)
                if ix is None:
                    ix = len(uniq)
                    uniq[s] = ix
                occ.append(ix)
        out = pd.Series([None] * len(texts), dtype="object")
        if not keep:
            return out
        h = md5_prefixes(uniq)
        # v = fold_P61(a*h + b), int64-exact (see _affine_perm_sql)
        h_hi = h >> 31
        h_lo = h & _M31
        t1 = A * h_hi                                    # (P, U) < 2^60
        s = (t1 >> 30) + ((t1 & _M30) << 31) + A * h_lo + B
        v = (s >> 61) + (s & _P61)                       # (P, U)
        mins = np.minimum.reduceat(
            v[:, np.asarray(occ, dtype=np.int64)],
            np.asarray(starts, dtype=np.int64),
            axis=1,
        )                                                # (P, D)
        for d, i in enumerate(keep):
            out.iloc[i] = mins[:, d].tolist()
        return out

    return _sig


def banded_rows(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """(id, sig, band, band_hash) — one row per (doc, band); band_hash is
    md5 over the band's signature slice.  The shared banding layout for
    LSH candidate generation, the persisted signature store, and
    incremental probes."""
    return sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.band_hash")


def _check_cap(max_bucket_size: int) -> None:
    if not isinstance(max_bucket_size, int) or max_bucket_size < 1:
        raise ValueError(
            f"max_bucket_size must be a positive int, got {max_bucket_size!r}"
        )


def _capped_buckets(
    rows: DataFrame, keys: list[str], max_bucket_size: int,
    *member_aggs: Column,
) -> DataFrame:
    """One row per ``keys`` bucket of at most ``max_bucket_size`` members:
    ``_sz`` plus the caller's member aggregations (the arrays its pair
    expansion reads), repartitioned on the bucket key.

    The shared cap policy of every bucket-aggregation candidate generator:

    * one groupBy per bucket, not a size aggregate + join + self-join
      (three exchanges, and the cap subtree duplicated per join branch);
    * ``max_bucket_size`` drops over-full buckets before the in-bucket pair
      expansion: at web scale a boilerplate cluster (error pages, parked
      domains) can put millions of documents in one bucket and make the
      expansion quadratic; such clusters are better handled by exact dedup
      upstream.  Over-cap buckets are still collected before the filter;
      their transient agg buffers spill via Spark's sort-based aggregation
      fallback rather than joining the candidate stream;
    * keyed repartition to cluster parallelism: AQE coalesces the groupBy
      exchange by BYTES, but the pair expansion is quadratic per bucket —
      byte-based coalescing serializes it onto a handful of tasks.
      Keyed on the bucket (deterministic, no sort-before-repartition); one
      extra pass over bucket rows, which are far fewer than the candidate
      pairs they expand into.

    ``max_bucket_size`` must be a positive int: ``None`` (no cap) would
    make ``_sz <= NULL`` drop every bucket, and an uncapped bucket is the
    unbounded O(m²) expansion the cap exists to prevent."""
    _check_cap(max_bucket_size)
    grouped = (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_sz"), *member_aggs)
        .filter(F.col("_sz") <= max_bucket_size)
    )
    return grouped.repartition(
        grouped.sparkSession.sparkContext.defaultParallelism, *keys
    )


def _ordered_pairs(ms: str, make_pair) -> Column:
    """``make_pair(x, y)`` for every i < j pair of the sorted array column
    ``ms``, exploded one row per pair (alias ``p``): sorted members give
    each unordered pair once, with x < y."""
    n = F.size(ms)
    return F.explode(
        F.flatten(
            F.transform(
                F.col(ms),
                lambda x, i: F.transform(
                    F.slice(F.col(ms), i + F.lit(2), n - i - 1),
                    lambda y: make_pair(x, y),
                ),
            )
        )
    ).alias("p")


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Band the signature, group by (band, band_hash) and expand each
    bucket's sorted members → (id_a, id_b) candidate pairs (id_a < id_b),
    deduplicated across bands.  Buckets over ``max_bucket_size`` members
    are dropped (see :func:`_capped_buckets`)."""
    banded = banded_rows(sigs, bands, rows_per_band).select(
        "id", "band", "band_hash"
    )
    grouped = _capped_buckets(
        banded, ["band", "band_hash"], max_bucket_size,
        F.sort_array(F.collect_list("id")).alias("ms"),
    )
    return (
        grouped.select(_ordered_pairs(
            "ms", lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b"))
        ))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


# From an input this many file splits large, jaccard_for_pairs builds
# shingle sets only for candidate documents (see there).
_SEMI_FILTER_MIN_PARTITIONS = 256


def jaccard_for_pairs(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verification join).

    The set build takes one of two scale shapes, chosen by the plan's size
    estimate of ``df`` (no job): ``_SEMI_FILTER_MIN_PARTITIONS`` file splits
    or more, or no estimate (a local-list frame), is a large corpus:

    * wide — shingle sets are built ONLY for documents appearing in a
      candidate pair (broadcast left-semi on the pair ids, then the small
      filtered frame is persisted and shared by the id_a/id_b joins).
      At web scale candidates are a vanishing fraction of the corpus, so
      this removes ~all of the verification's scan+shingle cost.  It does
      serialize the set build behind candidate generation and adds two
      small shuffles — measurable overhead on toy corpora (A/B at sf0.1:
      ~+40% on a 5k-doc table, where the shingle savings are nil).
    * narrow — sets derive straight from ``df`` (the build fuses into the
      two verify joins; no extra stages).  Right below ~10^6 docs."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    if size >= _SEMI_FILTER_MIN_PARTITIONS * conf.filesMaxPartitionBytes():
        ids = (
            pairs.select(F.col("id_a").alias("id"))
            .unionByName(pairs.select(F.col("id_b").alias("id")))
            .distinct()
        )
        sets_df = (
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
            .join(F.broadcast(ids), "id", "left_semi")
            .select(
                "id",
                shingle_set_udf(shingle_k)(F.col("_t")).alias("sset"),
            )
            .transform(persist_tracked)
        )
    else:
        # persist: the id_a and id_b joins each re-ran the full-corpus
        # shingle build otherwise (two passes); the Arrow set builder is
        # itself ~4x the interpreted transform/concat_ws expression chain
        sets_df = persist_tracked(
            df.select(
                F.col(id_col).alias("id"),
                shingle_set_udf(shingle_k)(F.col(text_col)).alias("sset"),
            )
        )
    out = (
        pairs.join(sets_df.withColumnRenamed("id", "id_a").withColumnRenamed("sset", "set_a"), "id_a")
        .join(sets_df.withColumnRenamed("id", "id_b").withColumnRenamed("sset", "set_b"), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn("n_union", F.size(F.array_union("set_a", "set_b")))
        .withColumn(
            "jaccard",
            F.when(F.col("n_union") > 0, F.col("n_inter") / F.col("n_union")).otherwise(
                F.lit(0.0)
            ),
        )
    )
    return out.select("id_a", "id_b", "jaccard")


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → exact-Jaccard
    verify → pairs ≥ threshold.  ``max_bucket_size``: see
    lsh_candidate_pairs (boilerplate-cluster cap)."""
    rows_per_band = num_perm // bands
    # no persist: the bucket-agg candidate generator reads the signatures
    # exactly once (the former self-join topology read them three times)
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_k)
    cand = lsh_candidate_pairs(sigs, bands, rows_per_band, max_bucket_size)
    verified = jaccard_for_pairs(cand, df, text_col, id_col, shingle_k)
    return verified.filter(F.col("jaccard") >= threshold)


# --- SimHash ---------------------------------------------------------------

_SIMHASH_BITS = 60  # md5_int supplies 60 bits


def simhash_udf():
    """text → 60-bit SimHash (Arrow-batched; numpy bit-matrix inner loop).

    Tokens are the non-empty words of :func:`split_words`; each token
    hash is :func:`md5_prefixes` (60 bits), every occurrence votes (no
    dedup), and bit j of the output is set iff strictly more tokens have
    bit j set than clear.  Null, empty and whitespace-only text → 0.  Each
    DISTINCT token of the Arrow batch is hashed once (one md5_prefixes
    call per batch; web text repeats its words, so this is far fewer md5s
    than occurrences), and occurrences vote through their token's index;
    the Catalyst md5 → hex-string → conv(…,16,10) round trip per token
    cost ~5× the per-occurrence version of this path (100k docs: 3.3 s vs
    0.7 s)."""

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        uniq: dict[str, int] = {}
        docs = []  # (row, unique-token index per token occurrence)
        for i, t in enumerate(texts):
            if t is None:
                continue
            occ = [uniq.setdefault(w, len(uniq)) for w in split_words(t) if w]
            if occ:
                docs.append((i, occ))
        if not docs:
            return pd.Series(out)
        bit = np.arange(_SIMHASH_BITS)
        # +1/-1 vote of each distinct token on each bit: (U, 60)
        votes = 2 * ((md5_prefixes(uniq)[:, None] >> bit) & 1) - 1
        for i, occ in docs:
            score = votes[occ].sum(axis=0)
            out[i] = int(((score > 0).astype(np.int64) << bit).sum())
        return pd.Series(out)

    return _simhash


def _simhash_chunks(n_chunks: int, bits: int = _SIMHASH_BITS) -> list[tuple[int, int]]:
    """(offset, width) for ``n_chunks`` disjoint chunks covering ``bits``
    bits, widths as even as possible (floor/ceil split)."""
    base, extra = divmod(bits, n_chunks)
    out, off = [], 0
    for t in range(n_chunks):
        width = base + (1 if t < extra else 0)
        out.append((off, width))
        off += width
    return out


def simhash_near_dup_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, max_bucket_size: int = 1000, key_chunks: int = 1,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on ``max_hamming + key_chunks``
    disjoint bit chunks, verify Hamming distance exactly via
    bit_count(xor).

    Recall guarantee (pigeonhole): a pair within Hamming distance h differs
    in at most h chunks, so with h + 1 disjoint chunks at least one chunk
    is identical → the pair is ALWAYS a candidate.

    Scale note: wider h ⇒ more, narrower chunks ⇒ bigger buckets.  As with
    MinHash LSH, ``max_bucket_size`` drops degenerate buckets (boilerplate
    clusters) before the in-bucket pair expansion; at web scale pass
    ``key_chunks=2`` (or 3) to switch to the Manku-2007-style multi-chunk
    keys — same exact recall, ~13x fewer candidates at h=8 (see
    simhash_pairs_from_hashes)."""
    # no persist: the bucket-agg candidate generator reads (id, sh)
    # exactly once (the former sizes + self-join topology read it three
    # times)
    h = df.select(F.col(id_col).alias("id"),
                  simhash_udf()(F.col(text_col)).alias("sh"))
    return simhash_pairs_from_hashes(h, max_hamming, max_bucket_size,
                                     key_chunks=key_chunks)


def simhash_pairs_from_hashes(
    h: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
    key_chunks: int = 1,
    bits: int = _SIMHASH_BITS,
) -> DataFrame:
    """Blocked near-dup join over precomputed (id, sh) SimHash rows — see
    simhash_near_dup_pairs for the recall guarantee.  Buckets over
    ``max_bucket_size`` members are dropped (see :func:`_capped_buckets`).

    ``key_chunks`` (m) generalizes the pigeonhole blocking for SCALE at
    high Hamming radius (the Manku-2007 multi-block-key idea): split the
    hash into k = max_hamming + m disjoint chunks; a pair within Hamming h
    flips bits in at most h chunks, leaving >= m chunks clean, so SOME
    m-combination of chunks is entirely clean on both sides → keying one
    table per C(k, m) combination keeps EXACT recall while the bucket key
    grows from ~60/(h+1) bits to ~m*60/(h+m) bits.  At h=8: m=1 → 9
    tables of ~6-bit keys (buckets hold corpus/64 — cap-prone); m=2 → 45
    tables of ~12-bit keys → expected candidate volume shrinks by
    (45/2^12)/(9/2^6) ≈ 13x on hash-random corpora.  m=1 is the round-2
    design and stays the default (optimal at small corpora).

    ``bits`` is the hash width the disjoint chunks cover: 60 for the text
    SimHash (md5-derived), 64 for image perceptual hashes (image_dhash)."""
    if key_chunks < 1:
        raise ValueError("key_chunks must be >= 1")
    k = max_hamming + key_chunks
    chunks = _simhash_chunks(k, bits=bits)
    if key_chunks == 1:
        combos = [(i,) for i in range(k)]
    else:
        from itertools import combinations

        combos = list(combinations(range(k), key_chunks))

    def _key_expr(combo):
        expr = F.lit(0).cast("long")
        shift = 0
        for ci in combo:
            off, width = chunks[ci]
            expr = expr.bitwiseOR(
                F.shiftleft(
                    F.shiftrightunsigned(F.col("sh"), off).bitwiseAND(
                        F.lit((1 << width) - 1)
                    ),
                    shift,
                )
            )
            shift += width
        return expr

    blocked = h.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"), _key_expr(combo).alias("blk")
                    )
                    for t, combo in enumerate(combos)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", "bb.tbl", "bb.blk")
    # same (id_a, id_b, hamming) set as an all-pairs Hamming join (pinned
    # by the exact all-pairs oracle and test_simhash_blocking_full_recall)
    grouped = _capped_buckets(
        blocked, ["tbl", "blk"], max_bucket_size,
        F.sort_array(F.collect_list(F.struct("id", "sh"))).alias("ms"),
    )
    return (
        grouped.select(_ordered_pairs("ms", lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            F.bit_count(x["sh"].bitwiseXOR(y["sh"])).alias("hamming"),
        )))
        .select("p.id_a", "p.id_b", "p.hamming")
        # filter BEFORE distinct: the Hamming test kills ~all candidates,
        # so the dedup aggregation sees survivors only (orders of magnitude
        # fewer rows than candidates at web scale); same result either way
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- connected components (near-dup pair graph → duplicate clusters) --------


def _edge_checksum(e: DataFrame) -> tuple:
    """Order-independent multiset fingerprint of an edge set: count plus two
    independent hash sums.  One tiny driver-side row per iteration."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("h1"),
        F.bit_xor(F.xxhash64("v", "u")).alias("h2"),
    ).collect()[0]
    return (row["n"], row["h1"], row["h2"])


def _cc_local_task(e: DataFrame, stats: dict) -> DataFrame:
    """Union-find over a bounded edge list inside ONE executor task
    (mapInPandas on the coalesced frame): (node, component-min) for every
    node in the edge set — identical output contract to the star loop.
    One Spark job instead of ~6 shuffle stages per star round."""
    stats.update(engine="local-union-find", rounds=0, converged=True)

    def _uf(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                u, v = int(u), int(v)
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[rv] = ru
        comp_min: dict[int, int] = {}
        nodes = list(parent)
        roots = [find(x) for x in nodes]
        for x, r in zip(nodes, roots):
            m = comp_min.get(r)
            if m is None or x < m:
                comp_min[r] = x
        yield pd.DataFrame(
            {
                "node": pd.array(nodes, dtype="int64"),
                "component": pd.array(
                    [comp_min[r] for r in roots], dtype="int64"
                ),
            }
        )

    return e.coalesce(1).mapInPandas(_uf, "node long, component long")


_LOCAL_EDGES_MAX = 5_000_000  # CC's one-task bound: ~100s of MB of edges


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component = min node id of its component) for every node of
    an undirected edge list.  Iterative, so it runs jobs while built
    (``one_task_or_distributed``): union-find in one task up to
    ``_LOCAL_EDGES_MAX`` edges, else alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond").
    ``stats`` receives engine, rounds and converged.

    Scale shape of the star loop (the reason for this algorithm over naive
    label propagation): converges in O(log^2 n) rounds REGARDLESS of graph
    diameter — a boilerplate chain of 10^6 near-identical pages costs the
    same rounds as a clique.  Each round is one groupBy + one broadcast-free
    equi-join on the edge set; the per-node reduction is min(), which
    partial-aggregates map-side, so high-degree hub nodes (the skew case in
    dup graphs) never materialize a neighbor list anywhere.  Lineage is cut
    every round with localCheckpoint — on a real cluster point
    spark.checkpoint.dir at durable storage and swap in checkpoint() for
    executor-loss tolerance.

    No reference analogue (the reference is a classifier library); this is
    the standard final stage of a web-scale dedup pipeline (cluster the
    near-dup pair graph, keep one representative per cluster).
    """
    stats = {} if stats is None else stats
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    out = one_task_or_distributed(
        e, _LOCAL_EDGES_MAX, lambda e: _cc_local_task(e, stats),
        lambda e: _cc_star_loop(e, max_iter, stats),
    )
    if not stats["converged"]:
        # an unconverged edge set yields SPLIT clusters with no other signal
        warnings.warn(
            f"connected_components exited by iteration budget (max_iter="
            f"{max_iter}) without reaching the checksum fixpoint; clusters "
            f"may be split — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return out


def _cc_star_loop(e: DataFrame, max_iter: int, stats: dict) -> DataFrame:
    stats.update(engine="alternating-stars", rounds=0, converged=False)

    def large_star(e: DataFrame) -> DataFrame:
        # symmetrize; every node u connects its LARGER neighbors to the
        # minimum of its closed neighborhood
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m"))
        )
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient each edge larger→smaller; every node u connects its smaller
        # neighbors (and itself) to the minimum of its closed neighborhood
        d = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = d.groupBy("u").agg(F.min("v").alias("m"))
        return (
            d.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    prev = None
    for _ in range(max_iter):
        # lazy localCheckpoint: the checksum aggregation below is the job
        # that materializes the round (one pass, not two); the checkpoint
        # cuts lineage so round N+1 plans from N's blocks, not from the
        # whole join history
        e = small_star(large_star(e)).localCheckpoint(eager=False)
        stats["rounds"] += 1
        cur = _edge_checksum(e)
        if cur == prev:
            stats["converged"] = True
            break
        prev = cur
    # at the fixpoint the edge set is a star forest: (node → component-min)
    # for every non-root node; roots appear only on the v side
    roots = e.select(F.col("v").alias("u"), F.col("v").alias("v")).distinct()
    return (
        e.union(roots)
        .distinct()
        .select(F.col("u").alias("node"), F.col("v").alias("component"))
    )


def near_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    minhash_threshold: float = 0.5,
    simhash_max_hamming: int = 8,
) -> DataFrame:
    """Duplicate clusters over the UNION of the MinHash-Jaccard and SimHash
    near-dup pair graphs: (doc_id, cluster_id, cluster_size) for every
    document belonging to a near-dup cluster (size ≥ 2), cluster_id = the
    minimum doc id of the cluster.  The canonical keep/drop rule is
    "keep doc_id == cluster_id"."""
    nonempty = df.filter(F.length(F.trim(F.col(text_col))) > 0)
    mh = minhash_dedup_pairs(
        df, text_col, id_col, threshold=minhash_threshold
    ).select("id_a", "id_b")
    sh = simhash_near_dup_pairs(
        nonempty, text_col=text_col, id_col=id_col,
        max_hamming=simhash_max_hamming,
    ).select("id_a", "id_b")
    cc = connected_components(mh.union(sh))
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.col("cluster_size").cast("int").alias("cluster_size"),
    )


def cluster_representatives(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    score: Column | None = None,
    minhash_threshold: float = 0.5,
    simhash_max_hamming: int = 8,
) -> DataFrame:
    """Quality-ranked representative per near-dup cluster — "keep the
    BEST copy, not the first": for every cluster from
    ``near_dup_clusters`` pick the member with the highest quality score
    (ties -> lowest doc id), the FineWeb-style refinement of the
    min-id keep rule.  Returns one row per cluster:
    ``(cluster_id, cluster_size, kept_doc_id, kept_score)``.

    ``score`` defaults to ``text_analysis.quality_score`` but accepts any
    deterministic Column (perplexity, NB classifier margin, ...).

    Scale shape: scoring is pure codegen on the scan; the argmax is ONE
    partial-aggregating groupBy on cluster_id via max(struct(score,
    -id)) — no window over the corpus, map-side combine keeps hub
    clusters from materializing a member list."""
    from .text_analysis import quality_score

    clusters = near_dup_clusters(
        df, text_col, id_col,
        minhash_threshold=minhash_threshold,
        simhash_max_hamming=simhash_max_hamming,
    )
    sc = score if score is not None else quality_score(F.col(text_col))
    scored = df.select(F.col(id_col).alias("doc_id"), sc.alias("q_score"))
    best = (
        clusters.join(scored, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max("cluster_size").alias("cluster_size"),
            F.max(
                F.struct(
                    F.col("q_score"), (-F.col("doc_id")).alias("neg_id")
                )
            ).alias("b"),
        )
    )
    return best.select(
        "cluster_id",
        F.col("cluster_size").cast("int").alias("cluster_size"),
        (-F.col("b.neg_id")).alias("kept_doc_id"),
        F.col("b.q_score").alias("kept_score"),
    )


def passage_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """C4-style passage-level dedup (Raffel et al. 2020 deduplicated
    three-sentence spans; here the span unit is a fixed ``k``-word
    non-overlapping block, since crawl text normalized by this pipeline
    is a single line): every span occurring more than once IN THE WHOLE
    CORPUS is dropped except its first occurrence (minimal (doc, pos)),
    and documents are reconstructed from their surviving spans.

    Returns (id, n_passages, n_dropped, text_dedup) for every input
    document (text_dedup = '' when everything was dropped or the doc was
    blank).

    Scale shape: explode is map-side; the dedup decision is ONE partial-
    aggregating groupBy keyed by the span string itself (no hash-collision
    caveat at 10^12 spans), rejoined by span; reconstruction is a second
    groupBy keyed by doc id with an in-group sort — no windows over the
    corpus, no driver-side state.  Span strings are bounded (k words), so
    shuffle rows stay small."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_pass = F.ceil(F.size(words) / F.lit(k)).cast("int")
    spans = F.when(
        F.length(F.trim(F.col(text_col))) == 0,
        F.array().cast("array<struct<pos:int,span:string>>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_pass),
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.concat_ws(
                    " ", F.slice(words, (i - F.lit(1)) * k + 1, k)
                ).alias("span"),
            ),
        )
    )
    exploded = df.select(
        F.col(id_col).alias("_id"), F.explode_outer(spans).alias("p")
    ).select("_id", F.col("p.pos").alias("pos"), F.col("p.span").alias("span"))
    keepers = (
        exploded.filter(F.col("span").isNotNull())
        .groupBy("span")
        .agg(F.min(F.struct("_id", "pos")).alias("first"))
    )
    kept = (
        exploded.join(keepers, "span")
        .filter(
            (F.col("_id") == F.col("first._id"))
            & (F.col("pos") == F.col("first.pos"))
        )
        .select("_id", "pos", "span")
    )
    totals = exploded.groupBy("_id").agg(
        F.count("span").alias("n_passages")
    )
    rebuilt = kept.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "span"))),
                lambda s: s["span"],
            ),
        ).alias("text_dedup"),
    )
    return (
        totals.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_passages",
            (F.col("n_passages") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .alias("n_dropped"),
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
        )
    )


# --- incremental dedup against a persisted signature store -----------------


def bh_bucket_col(n_buckets: int) -> Column:
    """File-pruning bucket derived from the band_hash hex string (md5
    prefix → uniform): the store is partitioned by (band, bh_bucket) so a
    probe batch can prune the store SCAN to the buckets its own hashes
    fall in — the store side of the probe join then reads O(batch-coverage)
    files instead of the whole store, which is what keeps per-batch probe
    cost sub-linear as a continuous-crawl store grows."""
    return (
        F.conv(F.substring(F.col("band_hash"), 1, 4), 16, 10).cast("int")
        % n_buckets
    )


def build_sig_store(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    mode: str = "overwrite",
    store_buckets: int | None = None,
) -> None:
    """Persist the banded MinHash signature rows (id, sig, band, band_hash)
    for a corpus, partitioned by band — the state a continuous-crawl
    pipeline carries between runs so old documents are never re-shingled.
    ``mode="append"`` admits newly accepted documents into the store.

    ``store_buckets`` adds a ``bh_bucket`` partition column (band_hash
    prefix modulo) so incremental probes can prune store files by hash
    range; pass the same value to ``incremental_near_dups`` when probing.
    Rows are range-clustered by band_hash inside each partition so parquet
    row-group min/max stats can skip within files too."""
    rows_per_band = num_perm // bands
    spark = df.sparkSession
    if mode == "append" and read_sig_store_meta(spark, path) is not None:
        # appends must keep the existing modulus/signature scheme — a
        # second writer with different parameters would corrupt recall
        check_sig_store_buckets(spark, path, store_buckets)
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_k)
    rows = banded_rows(sigs, bands, rows_per_band)
    if store_buckets is None:
        rows.write.mode(mode).partitionBy("band").parquet(path)
    else:
        # repartition BY the partition columns first: without it every
        # input task writes its own fragment into every (band, bh_bucket)
        # dir — bands*buckets*tasks small files per append, the exact
        # small-files explosion the bucketed layout must not cause.
        # With it each partition dir gets exactly one file per write.
        (
            rows.withColumn("bh_bucket", bh_bucket_col(store_buckets))
            .repartition(F.col("band"), F.col("bh_bucket"))
            .sortWithinPartitions("band", "bh_bucket", "band_hash")
            .write.mode(mode)
            .partitionBy("band", "bh_bucket")
            .parquet(path)
        )
    write_sig_store_meta(
        spark, path, store_buckets=store_buckets, num_perm=num_perm,
        bands=bands, shingle_k=shingle_k,
    )


SIG_STORE_META = "_sig_store_meta.json"


def _store_fs(spark, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(conf), hpath, jvm


def write_sig_store_meta(spark, path: str, *, store_buckets: int | None,
                         num_perm: int, bands: int, shingle_k: int) -> None:
    """Persist the store's construction parameters next to its data
    (underscore-prefixed, so Spark's partition discovery ignores it).
    The bucket count is LOAD-BEARING: probing with a different modulus
    than the store was written with silently prunes away matching rows,
    so readers validate against this file rather than trusting callers."""
    import json as _json

    fs, _, jvm = _store_fs(spark, path)
    meta = {
        "store_buckets": store_buckets, "num_perm": num_perm,
        "bands": bands, "shingle_k": shingle_k,
    }
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path, SIG_STORE_META), True)
    try:
        out.write(bytearray(_json.dumps(meta).encode("utf-8")))
    finally:
        out.close()


def read_sig_store_meta(spark, path: str) -> dict | None:
    """Read the store metadata written by `write_sig_store_meta`;
    ``None`` when the store predates metadata (legacy layout)."""
    import json as _json

    fs, _, jvm = _store_fs(spark, path)
    mpath = jvm.org.apache.hadoop.fs.Path(path, SIG_STORE_META)
    if not fs.exists(mpath):
        return None
    stream = fs.open(mpath)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return _json.loads(text)


def check_sig_store_buckets(spark, path: str,
                            store_buckets: int | None) -> None:
    """Raise unless ``store_buckets`` matches the count the store at
    ``path`` was written with.  A mismatch is never recoverable at read
    time — `bh_bucket_col(N)` with the wrong N routes probe hashes to
    partitions the matching store rows are not in, admitting
    near-duplicates with no error — so this fails loudly, like the
    layout checks.  Legacy stores without metadata are let through with
    a warning (the column-presence guards still apply)."""
    meta = read_sig_store_meta(spark, path)
    if meta is None:
        warnings.warn(
            f"signature store {path} has no {SIG_STORE_META}; cannot "
            "validate store_buckets — rebuild or re-append with "
            "build_sig_store to stamp it",
            stacklevel=2,
        )
        return
    want = meta.get("store_buckets")
    if want != store_buckets:
        raise RuntimeError(
            f"signature store {path} was written with "
            f"store_buckets={want!r} but this probe/stream passed "
            f"store_buckets={store_buckets!r}; matching rows would be "
            "silently pruned — pass the store's value"
        )


def sig_store_layout(spark, path: str) -> str | None:
    """Detect a persisted signature store's physical layout from its
    top-level partition directories: ``"stream"`` for ``batch_id=<b>/
    band=<k>`` (the streaming job's per-batch dynamic-overwrite layout),
    ``"batch"`` for ``band=<k>`` (build_sig_store / compacted layout),
    ``None`` when the path is missing or carries no partition dirs yet.

    Mixing the two under one root makes ``spark.read.parquet`` fail with
    conflicting partition depths, so both the compactor and the streaming
    writer consult this before touching an existing store."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    if not fs.exists(hpath):
        return None
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("batch_id="):
            return "stream"
        if name.startswith("band="):
            return "batch"
    return None


def compact_sig_store(
    spark,
    path: str,
    drop_ids: DataFrame | None = None,
    min_batch_id: int | None = None,
    files_per_band: int = 1,
    preserve_batches: bool | None = None,
    drop_ids_small: bool = False,
) -> dict:
    """Rewrite a persisted signature store in place: drop signatures of
    deleted documents, expire old batches, and merge the small files that
    per-batch appends accumulate.

    A continuous-crawl store only ever GROWS under ``build_sig_store(
    mode="append")`` / the streaming job's per-batch writes — at 10^12-doc
    scale the store itself becomes the bottleneck (millions of small files;
    signatures of long-deleted documents still probed).  Compaction is the
    missing lifecycle step:

    * ``drop_ids``  — a one-column frame of document ids to purge (documents
      deleted/re-crawled since admission); applied as a left-anti equi-join.
    * ``min_batch_id`` — TTL: rows from older streaming batches are dropped
      (requires the store to carry ``batch_id``).
    * ``files_per_band`` — the rewrite repartitions to this many files per
      band partition, merging per-batch fragments.
    * ``preserve_batches`` — keep the streaming layout ``batch_id=<b>/
      band=<k>`` (so an in-flight stream's dynamic-overwrite idempotency
      contract still holds); False rewrites to the batch layout
      ``band=<k>`` with ``batch_id`` retained as a data column (readable by
      the stream's ``batch_id < b`` probe filter, but a stream must not
      APPEND to a compacted store without ``preserve_batches`` — the
      stream's write path also enforces this, raising on a band-first
      store).  Default ``None`` auto-detects: a store whose top-level
      partition directories are ``batch_id=<b>`` keeps the streaming
      layout, anything else gets the batch layout — so running the default
      compaction against a live stream's store can never leave mixed
      partition depths behind.
    * ``drop_ids_small`` — assert that the purge frame fits a broadcast
      (an explicit ``F.broadcast`` hint is applied).  Default False lets
      AQE pick the anti-join strategy: a continuous-crawl purge set (every
      re-crawled url since the last maintenance window) can be billions of
      rows, far beyond broadcast size.

    The rewrite goes to ``<path>.__compacting`` and is swapped in with two
    filesystem renames (old → ``.__old`` → delete), the classic
    rewrite-and-swap maintenance job — on an Iceberg deployment this whole
    function maps to ``rewriteDataFiles`` + ``expireSnapshots`` with a
    delete-filter, committed atomically by the table format.  Run it in a
    maintenance window (it is not concurrency-safe against writers, which
    is also true of dynamic partition overwrite on raw parquet).

    Returns {rows_before, rows_after, files_before, files_after}.
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    if not fs.exists(hpath):
        raise ValueError(f"signature store does not exist: {path}")

    def _count_files(p) -> int:
        it = fs.listFiles(p, True)
        n = 0
        while it.hasNext():
            f = it.next()
            if f.getPath().getName().endswith(".parquet"):
                n += 1
        return n

    store = spark.read.parquet(path)
    meta = read_sig_store_meta(spark, path)
    has_batch = "batch_id" in store.columns
    if min_batch_id is not None and not has_batch:
        raise ValueError("min_batch_id TTL needs a batch_id column")
    if preserve_batches is None:
        preserve_batches = sig_store_layout(spark, path) == "stream"
    if preserve_batches and not has_batch:
        raise ValueError("preserve_batches needs a batch_id column")
    rows_before = store.count()
    files_before = _count_files(hpath)
    kept = store
    if min_batch_id is not None:
        kept = kept.filter(F.col("batch_id") >= min_batch_id)
    if drop_ids is not None:
        purge = drop_ids.toDF("id").select(F.col("id").cast(kept.schema["id"].dataType))
        if drop_ids_small:
            purge = F.broadcast(purge)
        kept = kept.join(purge, "id", "left_anti")
    part_cols = ["batch_id", "band"] if preserve_batches else ["band"]
    n_parts = n_bands = kept.select("band").distinct().count()
    if "bh_bucket" in kept.columns:  # hash-bucketed store: keep the layout
        part_cols.append("bh_bucket")
        n_parts = n_bands * kept.select("bh_bucket").distinct().count()
    tmp = path.rstrip("/") + ".__compacting"
    tmp_path = jvm.org.apache.hadoop.fs.Path(tmp)
    if fs.exists(tmp_path):
        fs.delete(tmp_path, True)
    (
        kept.repartition(max(1, n_parts * files_per_band), *part_cols)
        .sortWithinPartitions(*part_cols, "band_hash")
        .write.mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(tmp)
    )
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".__old")
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(hpath, old):
        raise IOError(f"compaction swap failed: could not move {path} aside")
    if not fs.rename(tmp_path, hpath):
        fs.rename(old, hpath)  # roll back
        raise IOError(f"compaction swap failed: could not move {tmp} into place")
    fs.delete(old, True)
    if meta is not None:
        # carry the construction-parameter stamp through the swap —
        # compaction never changes the bucket modulus
        write_sig_store_meta(
            spark, path, store_buckets=meta.get("store_buckets"),
            num_perm=meta.get("num_perm", 16), bands=meta.get("bands", 4),
            shingle_k=meta.get("shingle_k", 3),
        )
    out = spark.read.parquet(path)
    return {
        "rows_before": rows_before,
        "rows_after": out.count(),
        "files_before": files_before,
        "files_after": _count_files(hpath),
    }


# An incremental probe with at most this many distinct band hashes pushes
# them into the store scan as a literal In filter (see incremental_near_dups).
_PROBE_PUSHDOWN_MAX_HASHES = 1024


def incremental_near_dups(
    new_docs: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold_est: float = 0.5,
    max_bucket_size: int = 1000,
    store_buckets: int | None = None,
    store_path: str | None = None,
) -> DataFrame:
    """New-vs-store near-dup pairs: (id_new, id_old, est_jaccard).

    The continuous-crawl shape: only the NEW batch is shingled and hashed;
    the store side is the persisted banded rows from ``build_sig_store``.
    Candidates come from one aggregation per (band, band_hash) bucket over
    the new and store banded rows together, expanded as the bucket's
    new x store cross, and are verified by the signature-estimated
    Jaccard (fraction of equal minhash components; the standard
    store-side verification, since the store keeps signatures, not
    shingle sets).  E[est] = true Jaccard with sd ≈ sqrt(J(1-J)/num_perm).

    ``max_bucket_size`` drops (band, band_hash) buckets whose combined
    new+store membership exceeds the cap (boilerplate guard, see
    :func:`_capped_buckets`).  New-batch ids must be disjoint
    from store ids.

    ``store_buckets`` (must match the value the store was built with —
    ``build_sig_store(store_buckets=...)``): prune the store scan to the
    ``bh_bucket`` partitions the new batch's hashes fall in BEFORE any
    join or size aggregation touches it.  The bucket list is a bounded
    collect (≤ store_buckets values), the filter lands in the parquet
    scan's PartitionFilters, and every store read below (bucket sizes,
    candidate join, signature verification) sees only the pruned frame —
    so probe cost tracks the batch's hash coverage, not the store size.
    A batch of at most ``_PROBE_PUSHDOWN_MAX_HASHES`` distinct band hashes
    also pushes them into the store scan as a literal In filter.

    Pass ``store_path`` (the directory the store was read from) to
    validate ``store_buckets`` against the store's stamped metadata —
    a wrong modulus silently prunes matching rows, so the check raises."""
    # before the store-bucket probe below runs its jobs
    _check_cap(max_bucket_size)
    if store_path is not None:
        # validate the probe modulus against the store's stamped metadata
        # — a wrong store_buckets prunes away MATCHING rows silently
        check_sig_store_buckets(new_docs.sparkSession, store_path,
                                store_buckets)
    elif store_buckets is not None and "bh_bucket" not in store.columns:
        raise RuntimeError(
            "store_buckets given but the store frame has no bh_bucket "
            "column — it was built unbucketed; pass store_buckets=None"
        )
    rows_per_band = num_perm // bands
    new_sigs = persist_tracked(
        minhash_signatures(new_docs, text_col, id_col, num_perm, shingle_k)
    )
    new_banded = banded_rows(new_sigs, bands, rows_per_band).select(
        "id", "band", "band_hash"
    )
    if store_buckets is not None and "bh_bucket" in store.columns:
        hit = [
            r[0]
            for r in new_banded.select(
                bh_bucket_col(store_buckets).alias("b")
            )
            .distinct()
            .collect()
        ]
        store = store.filter(F.col("bh_bucket").isin(hit))
        # trickle-batch fast path: when the batch carries few distinct
        # hashes, push them as a literal In filter into the store scan —
        # with the store range-clustered by band_hash, parquet row-group
        # min/max stats skip everything outside the batch's hash set, so
        # the probe reads O(batch) row groups however old the store is.
        # (bounded collect: the LIMIT caps driver memory; past the cap the
        # bucket pruning above still applies.)
        hashes = [
            r[0]
            for r in new_banded.select("band_hash")
            .distinct()
            .limit(_PROBE_PUSHDOWN_MAX_HASHES + 1)
            .collect()
        ]
        if len(hashes) <= _PROBE_PUSHDOWN_MAX_HASHES:
            store = store.filter(F.col("band_hash").isin(hashes))
    store_banded = store.select("id", "band", "band_hash")
    # new and store members collect side-by-side in one tagged bucket
    # aggregation; the cap counts them together, and candidates expand
    # in-bucket as the new x store cross
    tagged = new_banded.withColumn("_new", F.lit(True)).unionAll(
        store_banded.withColumn("_new", F.lit(False))
    )
    grouped = _capped_buckets(
        tagged, ["band", "band_hash"], max_bucket_size,
        F.collect_list(F.when(F.col("_new"), F.col("id"))).alias("nids"),
        F.collect_list(F.when(~F.col("_new"), F.col("id"))).alias("oids"),
    )
    cand = (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("nids"),
                        lambda x: F.transform(
                            F.col("oids"),
                            lambda y: F.struct(
                                x.alias("id_new"), y.alias("id_old")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_new", "p.id_old")
        .distinct()
    )
    old_sigs = store.select(
        F.col("id").alias("id_old"), F.col("sig").alias("so")
    ).dropDuplicates(["id_old"])
    est = F.round(
        F.aggregate(
            F.zip_with(
                F.col("sn"), F.col("so"), lambda x, y: (x == y).cast("int")
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(num_perm),
        6,
    )
    return (
        cand.join(
            new_sigs.select(F.col("id").alias("id_new"), F.col("sig").alias("sn")),
            "id_new",
        )
        .join(old_sigs, "id_old")
        .select("id_new", "id_old", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold_est)
    )


def exact_substring_dedup(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr-style deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — public paper): any
    ``k``-token window whose exact text occurs more than once in the
    WHOLE CORPUS is removed from every occurrence except the canonical
    first (minimal (doc, pos)); overlapping removed windows within a
    document merge into maximal spans (so a long duplicated passage is
    excised once, not per-window), and the document is rebuilt from its
    surviving tokens.  This is the token-interval refinement of
    ``passage_dedup``: sliding overlapping windows instead of disjoint
    blocks, and sub-document span removal instead of block dropping.

    Returns one row per input document:
    ``(id, n_windows, n_dup_windows, n_tokens_removed, text_dedup)``
    (``text_dedup`` = single-space-joined surviving tokens; ``''`` when
    everything was removed or the doc was blank).

    Scale shape: windows are map-side expressions; the duplicate decision
    is TWO-LEVEL — an 8-byte xxhash64 aggregation over all windows, then
    exact string resolution for only the occurrences whose hash bucket
    holds more than one member (true duplicates or hash collisions, both
    settled by the string groupBy, so semantics keep the paper's
    exact-match guarantee with no probabilistic caveat) — which cuts the
    window-text shuffle from ~k x corpus words to the colliding fraction
    alone.  Interval
    merging is a per-document window (documents are bounded, the corpus
    never sorts globally), and the rebuild joins the token stream against
    the per-doc merged spans — an equi-join on doc id with a range
    residual.  No driver-side state at any point.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    empty_w = F.array().cast("array<string>")
    base = df.select(
        F.col(id_col).alias("_id"),
        F.when(F.length(F.trim(F.col(text_col))) == 0, empty_w)
        .otherwise(words).alias("words"),
    )
    n = F.size("words")
    occ = (
        base.select(
            "_id",
            "words",
            F.explode(
                F.when(
                    n >= k, F.sequence(F.lit(0), n - k)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("pos"),
        )
        .select(
            "_id",
            "pos",
            F.concat_ws(
                " ", F.slice(F.col("words"), F.col("pos") + 1, k)
            ).alias("win"),
        )
    )
    # Two-level duplicate decision (shuffle bytes, EXACT semantics):
    # windows are ~k-word STRINGS, and the former direct groupBy(win) +
    # join(win) shipped them through two exchanges (~2k x corpus words on
    # the wire).  Level 1 aggregates the 8-byte xxhash64 of each window —
    # map-side partial agg, fixed-width keys; only windows whose hash
    # bucket holds more than one occurrence (true duplicates OR hash
    # collisions) need exact string resolution.  Level 2 re-groups just
    # those occurrences by the string itself, so window text crosses the
    # wire only for the colliding fraction.  Hash collisions between
    # DISTINCT windows are resolved exactly at level 2 (their string
    # groups come out cnt=1 → not duplicates), so the result is
    # identical to the direct string groupBy — no probabilistic caveat.
    occ_h = occ.withColumn("_h", F.xxhash64("win"))
    multi_h = (
        occ_h.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_hcnt"))
        .filter(F.col("_hcnt") > 1)
        .select("_h")
    )
    # the colliding-hash set is usually small (dup windows are a thin
    # fraction of a crawl): AQE then broadcasts it and the occurrence
    # stream is filtered map-side; past the broadcast budget the semi-join
    # shuffles the 8-byte hash — strings cross the wire once, not twice
    occ_multi = occ_h.join(multi_h, "_h", "left_semi").drop("_h")
    stats = occ_multi.groupBy("win").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("_id", "pos")).alias("first"),
    )
    marked_multi = occ_multi.join(stats, "win").select(
        "_id",
        "pos",
        (
            (F.col("cnt") > 1)
            & ~(
                (F.col("_id") == F.col("first._id"))
                & (F.col("pos") == F.col("first.pos"))
            )
        ).alias("is_dup"),
    )
    # per-doc window totals never need the strings (plain count by doc);
    # dup totals come from the resolved colliding fraction only
    totals_w = occ.groupBy("_id").agg(F.count(F.lit(1)).alias("n_windows"))
    dups_w = marked_multi.groupBy("_id").agg(
        F.sum(F.col("is_dup").cast("int")).alias("n_dup_windows")
    )
    counts = totals_w.join(dups_w, "_id", "left").select(
        "_id",
        "n_windows",
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
    )
    dup = marked_multi.filter("is_dup").select("_id", "pos")
    wdoc = Window.partitionBy("_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        dup.withColumn(
            "brk",
            F.when(
                prev_end.isNull() | (F.col("pos") >= prev_end), 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("brk").over(
                wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    # per-doc merged spans collected to a SMALL array (spans ≪ tokens) so
    # the rebuild never shuffles the token stream: one join back to the
    # docs, then a pure JVM higher-order filter (index-aware lambda) over
    # the words array — no posexplode, no range join, no re-sort
    intervals = (
        islands.groupBy("_id", "island")
        .agg(F.min("pos").alias("s"), (F.max("pos") + k).alias("e"))
        .groupBy("_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("ivs"))
    )
    ivs = F.coalesce(
        F.col("ivs"), F.array().cast("array<struct<s:int,e:int>>")
    )
    kept_words = F.filter(
        F.col("words"),
        lambda w, i: ~F.exists(
            ivs, lambda iv: (i >= iv["s"]) & (i < iv["e"].cast("int"))
        ),
    )
    return (
        base.join(counts, "_id", "left")
        .join(intervals, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_windows", F.lit(0)).cast("bigint").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("bigint")
            .alias("n_dup_windows"),
            (F.size("words") - F.size(kept_words))
            .cast("bigint").alias("n_tokens_removed"),
            F.array_join(kept_words, " ").alias("text_dedup"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership dedup (Dolma-style)
# ---------------------------------------------------------------------------
# Public technique: the Dolma toolkit (Soldaini et al. 2024) deduplicates
# web text against a Bloom filter of previously-seen content; positions
# use Kirsch–Mitzenmacher double hashing (2006), pos_i = h1 + i·h2 (mod m).
# Spark-first shape: the filter is a TABLE of (shard, bloom_bytes) rows —
# each shard a bitmap built from its keys' hashes by one applyInPandas
# task (only 16-byte hash rows shuffle, never documents); the probe joins
# incoming keys to their shard's bitmap (broadcast while the filter fits,
# shard-keyed shuffle join beyond that) and tests all k bits in one
# Arrow-batched numpy pass.  Sizing at 10^10 docs: n_shards scales so a
# shard's m/8 bytes fits an executor; build is one corpus pass, probe is
# map-side — zero corpus-scale shuffle.

BLOOM_SCHEMA = "shard int, bloom binary, n_keys bigint"


def _bloom_hash_cols(key: Column) -> tuple[Column, Column]:
    """(h1, h2): two independent 60-bit non-negative integers from one
    md5 — the same `('0x'||substr(md5(x),…))::BIGINT` construction the
    DuckDB oracles reproduce bit-for-bit."""
    d = F.md5(key)
    h1 = F.conv(F.substring(d, 1, 15), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(d, 17, 15), 16, 10).cast("bigint")
    return h1, h2


def _bloom_keyed(df: DataFrame, key_col: str, m_bits: int, n_shards: int,
                 keep: list[str]) -> DataFrame:
    h1, h2 = _bloom_hash_cols(F.col(key_col))
    return df.select(
        *keep,
        (h2 % n_shards).cast("int").alias("shard"),
        (h1 % m_bits).alias("h1m"),
        (h2 % m_bits).alias("h2m"),
    )


def build_bloom_filter(
    df: DataFrame,
    key_col: str = "text",
    m_bits: int = 1 << 18,
    k_hashes: int = 5,
    n_shards: int = 8,
) -> DataFrame:
    """Build the sharded Bloom filter table ``(shard, bloom, n_keys)``.

    ``m_bits`` is PER SHARD; bit positions are ``(h1m + i·h2m) mod m``
    with i < k — all arithmetic stays far under 2^63 because both terms
    are first reduced mod m.  Each shard's bitmap is packed LSB-first
    (numpy ``packbits(bitorder='little')``) so probe-side byte/bit math
    is ``pos >> 3`` / ``pos & 7``."""
    if m_bits % 8:
        raise ValueError("m_bits must be a multiple of 8")
    keyed = _bloom_keyed(df, key_col, m_bits, n_shards, keep=[])

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        h1m = pdf["h1m"].to_numpy(np.int64)
        h2m = pdf["h2m"].to_numpy(np.int64)
        bits = np.zeros(m_bits, dtype=bool)
        for i in range(k_hashes):
            bits[(h1m + i * h2m) % m_bits] = True
        return pd.DataFrame(
            {
                "shard": [shard],
                "bloom": [np.packbits(bits, bitorder="little").tobytes()],
                "n_keys": [len(pdf)],
            }
        )

    return keyed.groupBy("shard").applyInPandas(_build, BLOOM_SCHEMA)


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str = "text",
    m_bits: int = 1 << 18,
    k_hashes: int = 5,
    n_shards: int = 8,
    broadcast_filter: bool = True,
) -> DataFrame:
    """Adds ``possibly_seen`` to ``df``: True iff every one of the key's
    k bit positions is set in its shard's bitmap.  Exact Bloom
    semantics: no false negatives ever; false positives are a sizing
    choice — and because positions are pure md5 integer arithmetic, even
    the false positives are deterministic and engine-independent (the
    contract oracle re-derives them in SQL from the positions set).

    ``broadcast_filter`` holds while n_shards·m_bits/8 fits the driver;
    beyond that the shard-keyed shuffle join co-locates probes with their
    bitmap row."""
    keyed = _bloom_keyed(df, key_col, m_bits, n_shards, keep=list(df.columns))
    filt = F.broadcast(bloom) if broadcast_filter else bloom
    joined = keyed.join(filt.select("shard", "bloom"), "shard", "left")
    out_cols = list(df.columns) + ["possibly_seen"]
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", possibly_seen boolean"

    def _probe(batches):
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            n = len(pdf)
            seen = np.zeros(n, dtype=bool)
            if n:
                h1m = pdf["h1m"].to_numpy(np.int64)
                h2m = pdf["h2m"].to_numpy(np.int64)
                blooms = pdf["bloom"]
                # group rows by shard so each bitmap materializes once
                for _, idx in pdf.groupby("shard").groups.items():
                    ix = np.asarray(idx)
                    raw = blooms.iloc[ix[0]]
                    if raw is None:  # shard never built → nothing seen
                        continue
                    bm = np.frombuffer(raw, dtype=np.uint8)
                    ok = np.ones(len(ix), dtype=bool)
                    for i in range(k_hashes):
                        pos = (h1m[ix] + i * h2m[ix]) % m_bits
                        ok &= ((bm[pos >> 3] >> (pos & 7)) & 1).astype(bool)
                    seen[ix] = ok
            out = pdf[[c for c in out_cols if c in pdf.columns]].copy()
            out["possibly_seen"] = seen
            yield out

    return joined.mapInPandas(_probe, schema)
