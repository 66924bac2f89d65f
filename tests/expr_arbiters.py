"""Catalyst-expression arbiters for the Arrow text hashers.

The library hashes text only through Arrow UDFs (``minhash_sig_udf``,
``shingle_set_udf``, ``simhash_udf``, ``word_ngram_hash_udf``), which
reproduce Spark's word split ``split(trim(t), '\\s+')`` and ``md5_int``
in Python.  These pure-JVM expressions compute the same values with
Spark's own split, regex and md5, so the tests compare the two
implementations row by row.  DuckDB cannot arbitrate the split: its RE2
``\\s`` leaves out ``\\x0b``, which Java's ``\\s`` includes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from language_detection_spark.operators.dedup import (
    _M30,
    _M31,
    _P61,
    _SIMHASH_BITS,
    _perm_params,
    md5_int,
)


def _words(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def word_shingles(text: Column, k: int = 3) -> Column:
    """Whitespace-word k-shingles as strings; empty array when < k words."""
    words = _words(text)
    n = F.size(words)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def affine_perm(h: Column, a: int, b: int) -> Column:
    """fold_P61(a*h + b) for h in [0, 2^60), a < 2^31, b < P — int64-safe."""
    h_hi = F.shiftright(h, 31)
    h_lo = h.bitwiseAND(F.lit(_M31))
    t1 = F.lit(a) * h_hi                      # < 2^60
    t2 = F.lit(a) * h_lo                      # < 2^62
    # (t1 * 2^31) mod P via 2^61 ≡ 1: t1*2^31 = (t1>>30)*2^61 + (t1&M30)*2^31
    t1m = F.shiftright(t1, 30) + F.shiftleft(t1.bitwiseAND(F.lit(_M30)), 31)
    s = t1m + t2 + F.lit(b)                   # < 2^63
    return F.shiftright(s, 61) + s.bitwiseAND(F.lit(_P61))


def minhash_signatures_expr(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sig) like ``minhash_signatures``: one md5_int per shingle, then
    the min of each affine permutation; docs without shingles dropped."""
    base = (
        df.select(
            F.col(id_col).alias("id"),
            word_shingles(F.col(text_col), shingle_k).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
        .select(
            "id",
            # NB: unary lambda — pyspark's transform feeds the element
            # index as a second positional arg to binary lambdas
            F.transform(F.col("shingles"), lambda s: md5_int(s)).alias("hs"),
        )
    )
    params = _perm_params(num_perm)

    def _mk_perm(a: int, b: int):
        # STRICTLY unary lambda: default-valued params would make
        # pyspark's transform pass the element index into them
        return lambda h: affine_perm(h, a, b)

    def _perm_min(p: int):
        a, b = params[p]
        return F.array_min(F.transform(F.col("hs"), _mk_perm(a, b)))

    sig = F.array(*[_perm_min(p) for p in range(num_perm)]).alias("sig")
    return base.select("id", sig)


def simhash_col(text: Column) -> Column:
    """60-bit SimHash like ``simhash_udf``: md5_int per non-empty word,
    every occurrence votes, bit j set iff more tokens set it than clear
    it.  NULL for null text (the UDF returns 0 there)."""
    words = F.filter(_words(text), lambda w: w != F.lit(""))
    hashes = F.transform(words, lambda w: md5_int(w))
    zeros = F.array_repeat(F.lit(0).cast("long"), _SIMHASH_BITS)

    def bit_of(h, j):
        return (h.bitwiseAND(F.lit(1 << j)) != F.lit(0)).cast("long")

    ones = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[bit_of(h, j) for j in range(_SIMHASH_BITS)]),
            lambda a, b: a + b,
        ),
    )
    n = F.size(hashes).cast("long")
    weights = F.array(
        *[F.lit(1 << j).cast("long") for j in range(_SIMHASH_BITS)]
    )
    voted = F.zip_with(
        ones,
        weights,
        lambda o, w: F.when(o * 2 > n, w).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(voted, F.lit(0).cast("long"), lambda a, x: a + x)


def word_ngram_hashes(text: Column, n: int) -> Column:
    """md5_int of each word n-gram in occurrence order, like
    ``word_ngram_hash_udf``; empty array for blank docs or < n words."""
    words = _words(text)
    cnt = F.size(words) - (n - 1)
    empty = F.array().cast("array<bigint>")
    return (
        F.when(F.length(F.trim(text)) == 0, empty)
        .when(cnt < 1, empty)
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), cnt),
                lambda i: md5_int(F.concat_ws(" ", F.slice(words, i, n))),
            )
        )
    )
