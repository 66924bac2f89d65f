"""Text-analysis columns for training-data pipelines: token counting,
document fingerprinting, quality scoring, and a SQL-expressible stopword
language heuristic.  Everything here is pure ``pyspark.sql.functions``
expressions (whole-stage codegen; no UDFs), deliberately chosen so an
independent SQL engine can reproduce each value exactly (the DuckDB
correctness oracle)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .dedup import md5_int, md5_prefixes, word_grams

# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation
TOKEN_PAT = r"[A-Za-zÀ-ÿ]+|[0-9]+|[^A-Za-z0-9À-ÿ\s]"


def whitespace_token_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PAT), 0))


_FP_MOD = 1152921504606846883  # largest prime < 2^60


def fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint: sum over word positions of
    md5_int(i ':' word), mod a 60-bit prime.  Position-salted hashing makes
    it order-sensitive while staying commutative to aggregate — one pass,
    reproducible in any engine with md5."""
    words = F.split(F.trim(text), r"\s+")
    hashed = F.transform(
        F.sequence(F.lit(1), F.size(words)),
        lambda i: F.pmod(
            md5_int(F.concat(i.cast("string"), F.lit(":"), F.element_at(words, i))),
            F.lit(_FP_MOD),
        ),
    )
    return F.pmod(
        F.aggregate(hashed, F.lit(0).cast("bigint"), lambda acc, h: F.pmod(acc + h, F.lit(_FP_MOD))),
        F.lit(_FP_MOD),
    )


def quality_score(text: Column) -> Column:
    """[0,1] heuristic quality score: product of saturating sub-scores for
    length, alpha fraction and mean word length (C4/Gopher-flavored)."""
    words = F.split(F.trim(text), r"\s+")
    n_words = whitespace_token_count(text)
    non_ws = F.length(F.regexp_replace(text, r"\s", ""))
    mean_wl = F.when(n_words > 0, non_ws / n_words).otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-zÀ-ÿ]")))
    alpha_frac = F.when(n_words > 0, alpha_words / n_words).otherwise(F.lit(0.0))
    len_score = F.least(n_words / F.lit(50.0), F.lit(1.0))
    wl_score = F.when(
        (mean_wl >= 3.0) & (mean_wl <= 10.0), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    return F.round(len_score * wl_score * alpha_frac, 6)


_STOPWORD_LANGS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "that", "have", "with"),
    "fr": ("le", "la", "les", "est", "et"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "los", "es", "y", "las"),
}


def stopword_langid(text: Column) -> Column:
    """SQL-expressible stopword language vote: the language with the most
    stopword hits wins (ties broken by language order, 'und' = none).
    This is the oracle-checkable baseline detector; the NB detector is the
    real one."""
    t = F.lower(text)
    scores = {
        lang: sum(
            (F.regexp_count(t, F.lit(rf"\b{w}\b")) for w in ws),
            start=F.lit(0),
        )
        for lang, ws in _STOPWORD_LANGS.items()
    }
    best = F.lit("und")
    best_score = F.lit(0)
    # forward order with strict > ⇒ the FIRST language reaching the maximum
    # wins (same as the SQL CASE the oracle uses)
    for lang in _STOPWORD_LANGS:
        best = F.when(scores[lang] > best_score, F.lit(lang)).otherwise(best)
        best_score = F.greatest(best_score, scores[lang])
    return best


# --- Gopher repetition signals (need a shuffle, unlike the stats above) ----


def ngram_repetition_stats(df, text_col: str = "text", id_col: str = "doc_id",
                           top_n: int = 2, dup_n: int = 5):
    """Per-document word-n-gram repetition fractions (Gopher Table A1
    family, Rae et al. 2021): ``top{n}gram_char_frac`` = characters covered
    by the single most repetition-heavy top_n-gram (occurrences × non-space
    chars of the gram, maximized over grams) / total non-space chars;
    ``dup{n}gram_char_frac`` = the same mass summed over every dup_n-gram
    that occurs ≥ 2 times.  Ties and overlap are resolved by construction
    (mass arithmetic, not gram identity), so the numbers are deterministic
    and engine-independent.

    Scale shape: one explode per n and one partial-aggregating groupBy on
    (doc, gram) — no windows, no driver state; the (doc, gram) key is
    near-unique so the shuffle is skew-free even on boilerplate corpora.
    """
    from pyspark.sql import DataFrame  # noqa: F401  (documentation import)

    words = F.split(F.trim(F.col(text_col)), r"\s+")
    total = F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    base = df.select(
        F.col(id_col), words.alias("_w"), total.alias("_total")
    )

    def _gram_mass(n: int, dup_only: bool):
        grams = base.select(
            id_col,
            "_total",
            F.explode(
                F.when(
                    F.size("_w") >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size("_w") - F.lit(n - 1)),
                        lambda i: F.concat_ws(" ", F.slice("_w", i, n)),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
        counts = grams.groupBy(id_col, "_total", "gram").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        mass = F.col("cnt") * F.length(F.replace(F.col("gram"), F.lit(" "), F.lit("")))
        if dup_only:
            agg = F.sum(F.when(F.col("cnt") >= 2, mass).otherwise(F.lit(0)))
        else:
            agg = F.max(mass)
        # occurrences may overlap ("a a a" has two overlapping "a a"), so
        # the raw mass can exceed the char count — cap at 1.0 to keep
        # honest fraction semantics (thresholding is unaffected: the cap
        # is monotone)
        return counts.groupBy(id_col).agg(
            F.round(
                F.least(agg / F.greatest(F.first("_total"), F.lit(1)), F.lit(1.0)),
                6,
            ).alias("_frac")
        )

    top = _gram_mass(top_n, dup_only=False).withColumnRenamed(
        "_frac", f"top{top_n}gram_char_frac"
    )
    dup = _gram_mass(dup_n, dup_only=True).withColumnRenamed(
        "_frac", f"dup{dup_n}gram_char_frac"
    )
    return (
        df.select(id_col)
        .join(top, id_col, "left")
        .join(dup, id_col, "left")
        .fillna(0.0)
    )


def source_stats(df, id_col: str = "doc_id", source_col: str = "source",
                 text_col: str = "text", lang_col: str = "lang"):
    """Per-source (host/domain) aggregate profile — the input to
    domain-level filtering decisions (blocklists, per-domain caps) in
    Common-Crawl-style pipelines: document count, mean length, mean
    heuristic quality score, and distinct-language count.  Pure
    partial-aggregating groupBy; at web scale ``source`` is the natural
    skew axis, which plain sum/count/avg aggregation absorbs map-side."""
    return (
        df.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.length(F.col(text_col))), 6).alias("mean_chars"),
            F.round(F.avg(quality_score(F.col(text_col))), 6).alias(
                "mean_quality"
            ),
            F.countDistinct(F.col(lang_col)).alias("n_langs"),
        )
    )


def weighted_sample_by_source(df, id_col: str = "doc_id",
                              source_col: str = "source",
                              salt: str = "mix:v1",
                              rate_buckets: int = 5):
    """Deterministic per-source weighted subsampling — the dataset-MIXING
    step of a training pipeline (each domain/source kept at its own
    rate).  Per-document keep decision: md5(salt ':' id) mod 10^6 <
    rate·10^6, with the source's rate derived here as
    (md5(source) mod ``rate_buckets`` + 1) / (rate_buckets + 1) so the
    whole thing (rates included) is re-derivable by an independent
    engine; a real pipeline supplies its target-mix rates as a broadcast
    (source, rate) table instead — identical plan shape.

    Why hash-Bernoulli instead of ``df.sample``: the decision is a pure
    function of (salt, id) — stable across runs, partitionings and
    cluster sizes, auditable row-by-row, and re-drawable independently by
    changing the salt.  No shuffle at all: keep/drop is a map-side
    filter."""
    m = F.pmod(md5_int(F.col(source_col)), F.lit(rate_buckets))  # 0..B-1
    bucket = F.pmod(
        md5_int(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    # keep iff bucket/10^6 < (m+1)/(B+1), tested in INTEGER arithmetic so
    # no float-boundary case can diverge between engines
    return (
        df.withColumn("keep_rate", F.round((m + 1) / F.lit(float(rate_buckets + 1)), 6))
        .withColumn("sample_bucket", bucket)
        .filter(
            F.col("sample_bucket") * F.lit(rate_buckets + 1)
            < (m + 1) * F.lit(1_000_000)
        )
        .select(id_col, source_col, "keep_rate", "sample_bucket")
    )


def cap_per_source(df, k: int = 2, id_col: str = "doc_id",
                   source_col: str = "source", text_col: str = "text",
                   n_partial: int = 64):
    """Keep at most ``k`` documents per source (domain), preferring higher
    heuristic quality score, ties broken by id — the standard per-domain
    cap against boilerplate-heavy hosts in web-corpus curation.

    Scale shape: the naive ``row_number() OVER (PARTITION BY source)``
    funnels a hot host's millions of rows through one task; instead phase
    1 ranks within (source, salt-of-id) so a hot source spreads over
    ``n_partial`` evenly-hashed sub-partitions and only k rows survive
    each, then phase 2 re-ranks the tiny survivor set (≤ n_partial·k rows
    per source).  Identical output to the global window, deterministic.
    """
    from pyspark.sql.window import Window

    scored = df.select(
        F.col(id_col), F.col(source_col),
        quality_score(F.col(text_col)).alias("_q"),
    )
    order = [F.desc("_q"), F.asc(id_col)]
    partial = (
        scored.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_partial))
        )
        .withColumn(
            "_r1",
            F.row_number().over(
                Window.partitionBy(source_col, "_salt").orderBy(*order)
            ),
        )
        .filter(F.col("_r1") <= k)
        .drop("_salt", "_r1")
    )
    w2 = Window.partitionBy(source_col).orderBy(*order)
    return (
        partial.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            id_col, source_col, F.round("_q", 6).alias("q_score"), "rank"
        )
    )


def holdout_split(df, id_col: str = "doc_id", holdout_permille: int = 100,
                  salt: str = "split:v1"):
    """Deterministic train/holdout assignment: md5(salt ':' id) mod 1000 <
    ``holdout_permille`` ⇒ holdout.  Pure expression — stable across runs,
    engines, partitionings, and cluster sizes (no RNG, no sampling
    dependence on row order), which is what makes a split auditable at
    10^12 rows.  Change ``salt`` to draw an independent split."""
    bucket = F.pmod(
        md5_int(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        F.lit(1000),
    )
    return df.withColumn("split_bucket", bucket.cast("int")).withColumn(
        "is_holdout", F.col("split_bucket") < holdout_permille
    )


def word_ngram_hash_udf(n: int):
    """text → :func:`~.dedup.md5_int` hashes of its word ``n``-grams
    (:func:`~.dedup.word_grams`), one per position in occurrence order;
    NULL for null text, empty for blank text or < n words.  Each DISTINCT
    gram is hashed once per batch.  Catalyst's per-gram md5 → hex-string
    → conv round trip was the dominant per-row cost of the decontamination
    and DSIR feature passes; pinned against a Catalyst expression arbiter
    by ``test_word_ngram_hash_udf_matches_expression``."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _hashes(texts: pd.Series) -> pd.Series:
        uniq: dict[str, int] = {}
        rows: list[list[int] | None] = []
        for t in texts:
            if t is None:
                rows.append(None)
            elif not t.strip(" "):
                rows.append([])
            else:
                rows.append([uniq.setdefault(g, len(uniq))
                             for g in word_grams(t, n)])
        h = md5_prefixes(uniq)
        return pd.Series([None if r is None else h[r].tolist() for r in rows])

    return _hashes


def decontaminate(train, eval_df, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 8):
    """Test-set decontamination (the GPT-3-style n-gram collision check):
    for every training document, count word-n-gram occurrences that also
    appear anywhere in the evaluation set.  Returns (id, n_grams,
    n_contaminated, contaminated) — the standard pipeline step drops or
    audits documents with ``contaminated = true`` before training so
    benchmark numbers aren't inflated by memorized eval data.

    Scale shape: the EVAL side (benchmarks — KBs to MBs, never the
    corpus) collapses to a distinct hash set and rides a broadcast join;
    the TRAIN side is a map-side explode of the Arrow n-gram hashes (no
    shuffle of the corpus) followed by a per-doc partial-aggregating
    groupBy.  At 10^12 train rows the plan is scan → project/explode →
    broadcast-hash-join → partial/final agg — one shuffle, keyed by the
    doc id.  No reference analogue (classifier library); this is a
    builder-brief training-data operator."""
    grams = word_ngram_hash_udf(n)(F.col(text_col))
    ev = (
        eval_df.select(F.explode(grams).alias("gh")).distinct()
        .withColumn("_hit", F.lit(1))
    )
    tr = train.select(F.col(id_col), F.explode_outer(grams).alias("gh"))
    return (
        tr.join(F.broadcast(ev), "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count("gh").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_contaminated"),
        )
        .withColumn("contaminated", F.col("n_contaminated") > 0)
    )


def quality_terciles(df, id_col: str = "doc_id", lang_col: str = "lang",
                     text_col: str = "text"):
    """CCNet-style per-language corpus split (Wenzek et al. 2020): rank
    each document's quality score against its OWN language's distribution
    and label head / middle / tail by the tercile cutoffs.  CCNet does
    this with LM perplexity; the score here is the heuristic quality score
    so an independent SQL engine can re-derive the whole thing.

    Scale shape: cutoffs are a per-language aggregate (tiny — one row per
    language) broadcast back onto the corpus; no window over the full
    table.  At 10^12 rows swap the exact percentile for
    ``percentile_approx`` — same plan shape, bounded memory."""
    scored = df.select(
        F.col(id_col), F.col(lang_col),
        quality_score(F.col(text_col)).alias("_q"),
    )
    cuts = scored.groupBy(lang_col).agg(
        F.round(F.percentile("_q", F.lit(1.0 / 3.0)), 6).alias("_c1"),
        F.round(F.percentile("_q", F.lit(2.0 / 3.0)), 6).alias("_c2"),
    )
    lab = (
        F.when(F.col("_q") <= F.col("_c1"), F.lit("tail"))
        .when(F.col("_q") <= F.col("_c2"), F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return (
        scored.join(F.broadcast(cuts), lang_col)
        .select(
            id_col, lang_col, F.col("_q").alias("q_score"),
            lab.alias("tercile"),
        )
    )


# --- URL canonicalization (crawl-pipeline URL-level dedup) -----------------
# the FIRST dedup stage of a web-crawl pipeline: collapse the url-variant
# explosion (scheme/host case, default ports, fragments, tracking params,
# param order, www. prefix, trailing slash) BEFORE any content is fetched
# or hashed.  Pure expressions (codegen, zero shuffle) and deliberately
# reproducible in an independent SQL engine — the DuckDB oracle re-derives
# every canonical string.

# Only UNAMBIGUOUS tracking keys are stripped by default: utm_* plus the
# ad-click ids.  Deliberately NOT included: ``ref`` — on real crawl data
# it routinely selects distinct resources (git refs, pagination anchors,
# referenced sections), so stripping it would conflate different pages
# into one dup group.  Callers with a site-specific tracking vocabulary
# pass their own set.
DEFAULT_TRACKING_PARAMS = ("gclid", "fbclid", "msclkid", "mc_eid")
_TRACKING_PARAM_PAT = (
    r"^(utm_|" + "|".join(k + "=" for k in DEFAULT_TRACKING_PARAMS) + r")"
)


def canonical_url(url: Column,
                  tracking_params: tuple[str, ...] | None = None) -> Column:
    """Canonical form of an http(s) URL:

    * scheme and host lowercased; a leading ``www.`` dropped
    * default ports stripped (``:80`` for http, ``:443`` for https)
    * fragment dropped
    * query: tracking params removed (default: ``utm_*`` + gclid/fbclid/
      msclkid/mc_eid — only keys that NEVER select a distinct resource;
      override per deployment via ``tracking_params``), the rest SORTED
      and rejoined (param order never distinguishes resources in
      practice); empty query drops the ``?``
    * path: trailing ``/`` stripped (bare host normalizes to no path)

    Non-http(s) inputs (no ``scheme://``) are returned trimmed-lowercase
    as-is — canonicalization is only defined for web URLs."""
    pat = (
        _TRACKING_PARAM_PAT
        if tracking_params is None
        else r"^(utm_|" + "|".join(k + "=" for k in tracking_params) + r")"
    )
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    host = F.regexp_replace(
        F.regexp_replace(hostport, r"^www\.", ""),
        F.concat(F.lit(":"), F.when(scheme == "https", F.lit("443"))
                 .otherwise(F.lit("80")), F.lit("$")),
        "",
    )
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, r"/$", "")
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0) & ~p.rlike(pat),
    )
    qcanon = F.array_join(F.array_sort(params), "&")
    rebuilt = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qcanon != "", F.concat(F.lit("?"), qcanon)).otherwise(F.lit("")),
    )
    return F.when(scheme == "", F.lower(u)).otherwise(rebuilt)


def url_dup_groups(df, url_col: str = "url",
                   tracking_params: tuple[str, ...] | None = None):
    """(canonical_url, n_variants, first_url): URL-level dup groups —
    one partial-aggregating groupBy keyed by the canonical string (the
    same 10^12-row shape as exact text dedup; no windows)."""
    canon = df.withColumn(
        "canonical_url", canonical_url(F.col(url_col), tracking_params)
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.min(url_col).alias("first_url"),
    )


def latest_snapshot(df, url_col: str = "url", ts_col: str = "warc_ts",
                    id_col: str = "doc_id",
                    tracking_params: tuple[str, ...] | None = None):
    """Re-crawl collapse: keep only the NEWEST capture of each canonical
    URL — the standard first reduction when ingesting overlapping crawl
    snapshots (CommonCrawl publishes the same URL across monthly dumps;
    training pipelines keep one).

    Output: ``(canonical_url, n_snapshots, latest_doc_id, latest_ts)``.
    Winner = lexicographic max of (ts, doc_id) — the doc_id tie-break
    makes the choice deterministic when two captures share a timestamp.

    Scale shape (10^12 rows): one partial-aggregating groupBy keyed by
    the canonical string via ``max(struct(ts, id))`` — map-side combine,
    no window, no second pass.
    """
    canon = df.select(
        canonical_url(F.col(url_col), tracking_params).alias("canonical_url"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"),
    )
    agg = canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_snapshots"),
        F.max(F.struct(F.col("_ts"), F.col("_id"))).alias("_w"),
    )
    return agg.select(
        "canonical_url",
        "n_snapshots",
        F.col("_w._id").alias("latest_doc_id"),
        F.col("_w._ts").alias("latest_ts"),
    )


def dsir_scores(
    docs,
    target_sources: tuple[str, ...] = ("src0", "src1", "src2"),
    n_buckets: int = 1024,
    alpha: float = 0.1,
    select_quantile: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
):
    """DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public paper):
    hashed word {1,2}-gram features (md5 bucket mod ``n_buckets``), two
    smoothed bag-of-buckets multinomials — the target domain
    (``source ∈ target_sources``) vs the full raw corpus — and a per-doc
    importance score = mean over feature OCCURRENCES of
    log p_target(bucket) − log p_raw(bucket) (length-normalized variant
    of the paper's sum).  ``selected`` marks docs above the
    ``select_quantile`` cut of the score distribution (deterministic
    stand-in for the paper's Gumbel resampling).

    Scale shape: the distributions are two ≤``n_buckets``-row aggregates
    (map-side partial combine, broadcast back), so the only data-scale
    shuffle is the per-doc average; the quantile cut is an exact
    ``percentile`` over one row per doc (swap to ``percentile_approx``
    at extreme corpus sizes).  Everything is JVM expressions — no
    Python in the hot path.
    """
    from pyspark.sql import functions as F

    from ..plans.caching import persist_tracked

    feats = F.concat(
        word_ngram_hash_udf(1)(F.col(text_col)),
        word_ngram_hash_udf(2)(F.col(text_col)),
    )
    # persist: the bucket rows feed BOTH the distribution aggregate and
    # the per-doc scoring join; unpersisted, the feature hashing ran
    # twice over the corpus
    b = persist_tracked(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            F.explode(feats).alias("gh"),
        )
        .withColumn("bucket", F.pmod(F.col("gh"), F.lit(n_buckets)))
        .select("doc_id", "source", "bucket")
    )
    is_target = F.col("source").isin(*target_sources)
    rc = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("double").alias("r"),
        F.sum(F.when(is_target, 1).otherwise(0)).cast("double").alias("t"),
    )
    totals = rc.agg(
        F.sum("r").alias("t_raw"), F.sum("t").alias("t_tgt")
    )
    aB = float(alpha) * n_buckets
    lr = (
        rc.crossJoin(F.broadcast(totals))
        .withColumn(
            "lr",
            (F.log(F.col("t") + F.lit(float(alpha)))
             - F.log(F.col("t_tgt") + F.lit(aB)))
            - (F.log(F.col("r") + F.lit(float(alpha)))
               - F.log(F.col("t_raw") + F.lit(aB))),
        )
        .select("bucket", "lr")
    )
    scored = (
        b.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.avg("lr"), 6).alias("score"),
        )
    )
    # persist: the quantile-cut broadcast and the final projection both
    # consume scored (one row per doc); unpersisted, the whole feature →
    # distribution → scoring chain ran once per consumer
    scored = persist_tracked(scored)
    cut = scored.agg(
        F.percentile("score", select_quantile).alias("cut")
    )
    return (
        scored.crossJoin(F.broadcast(cut))
        .select(
            "doc_id",
            "n_feats",
            "score",
            (F.col("score") > F.col("cut")).alias("selected"),
        )
    )


def language_rebalance(
    df,
    target_permille: dict[str, int],
    lang_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "rebal:v1",
):
    """Downsample to a target language mixture — the rebalancing step of
    a multilingual training pipeline (e.g. cap English dominance at a
    stated share).  Unlike ``weighted_sample_by_source`` the per-language
    keep rates are CALIBRATED FROM THE DATA: the largest corpus
    achievable with exact target shares keeps
    ``N* = min_l floor(count_l · 1000 / share_pm_l)`` documents, and each
    language is kept at ``rate_l = share_pm_l · N* / (1000 · count_l)``
    (the scarcest language relative to its target share is the binding
    constraint with rate ≈ 1; abundant languages are thinned).

    All rate math is 64-bit INTEGER arithmetic — ``rate_ppm =
    share_pm · N* · 1000 DIV count_l`` parts-per-million, keep iff
    ``md5(salt:id) mod 10^6 < rate_ppm`` — so an independent engine
    reproduces every decision bit-for-bit (no float boundaries).  Range
    headroom: products stay < 2^63 for corpora up to ~9·10^12 documents.
    Languages absent from ``target_permille`` are dropped (share 0).

    Scale shape: the per-language counts are one tiny aggregate
    (map-side combine → ≤|langs| rows), rates broadcast back, and the
    keep decision is a map-side filter — no data-scale shuffle at all.

    Reference anchor: consumes the detector's language labels
    (`Detector.java:259` ranking); the mixture mechanism itself follows
    the public data-mixture recipes (CCNet / The Pile per-source
    weights).
    """
    if not target_permille or min(target_permille.values()) < 1:
        raise ValueError("target_permille must map langs to positive permille")
    from ..plans.caching import persist_tracked
    from ..plans.repartition import literal_frame

    tgt = literal_frame(
        df.sparkSession,
        [(k, int(v)) for k, v in sorted(target_permille.items())],
        f"{lang_col}: string, share_pm: int",
    )

    # persist the ≤|langs|-row count table: the n_star broadcast and the
    # rates broadcast each re-ran the corpus aggregation otherwise
    counts = persist_tracked(
        df.groupBy(lang_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_l"))
        .join(tgt, lang_col)
    )
    n_star = counts.agg(
        F.min(F.expr("n_l * 1000 DIV share_pm")).alias("n_star")
    )
    rates = (
        counts.crossJoin(F.broadcast(n_star))
        .withColumn(
            "rate_ppm",
            F.least(
                F.expr("share_pm * n_star * 1000 DIV n_l"),
                F.lit(1_000_000).cast("bigint"),
            ),
        )
        .select(lang_col, "rate_ppm")
    )
    bucket = F.pmod(
        md5_int(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    return (
        df.join(F.broadcast(rates), lang_col)
        .withColumn("sample_bucket", bucket)
        .filter(F.col("sample_bucket") < F.col("rate_ppm"))
        .select(id_col, lang_col, "rate_ppm", "sample_bucket")
    )



def chunk_text(
    df,
    chunk_tokens: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Overlapping token-window chunking — the RAG/embedding-ingestion
    step: split every document into ``chunk_tokens``-token windows that
    advance by ``stride`` tokens, so consecutive chunks share
    ``chunk_tokens - stride`` tokens of context.  A document with at most
    ``chunk_tokens`` tokens yields exactly one chunk; otherwise
    ``1 + ceil((n - chunk_tokens) / stride)`` chunks, the last possibly
    short.  Zero-token documents yield no chunks.

    Returns one row per chunk:
    ``(id, chunk_idx, tok_start, n_chunk_tokens, chunk)``.

    Pure JVM expressions — token split, integer ceil via ``DIV`` (exact
    at any corpus size, no float binning), explode, slice; map-side only,
    zero shuffle; deterministic and independently re-derivable.
    """
    if chunk_tokens < 1 or stride < 1:
        raise ValueError("chunk_tokens and stride must be >= 1")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = whitespace_token_count(F.col(text_col)).cast("bigint")
    base = df.select(
        F.col(id_col).alias("doc_id"), words.alias("_w"), n.alias("_n")
    )
    n_chunks = (
        F.when(F.col("_n") < 1, F.lit(0).cast("bigint"))
        .when(F.col("_n") <= chunk_tokens, F.lit(1).cast("bigint"))
        .otherwise(
            F.lit(1)
            + F.expr(f"(_n - {chunk_tokens} + {stride - 1}) DIV {stride}")
        )
    )
    exploded = base.select(
        "doc_id",
        "_w",
        "_n",
        F.explode(
            F.when(
                n_chunks < 1, F.array().cast("array<bigint>")
            ).otherwise(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1))
        ).alias("chunk_idx"),
    ).withColumn("tok_start", F.col("chunk_idx") * stride)
    return exploded.select(
        F.col("doc_id").alias(id_col),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("tok_start").cast("bigint").alias("tok_start"),
        F.least(F.col("_n") - F.col("tok_start"), F.lit(chunk_tokens).cast("bigint"))
        .cast("int").alias("n_chunk_tokens"),
        F.concat_ws(
            " ",
            F.slice(F.col("_w"), (F.col("tok_start") + 1).cast("int"), chunk_tokens),
        ).alias("chunk"),
    )


def tfidf_top_terms(
    df,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document top-``k`` terms by TF-IDF (classic smooth variant:
    ``idf = ln((N+1)/(df+1)) + 1`` with N = docs with ≥1 token, df =
    docs containing the term) — the keyword-extraction / indexing step of
    an analytics pipeline.

    Cross-engine exactness discipline: the ranking score is
    ``score_micro = tf · round(idf · 10^6)`` — a 64-bit INTEGER — so the
    per-doc ordering (score desc, term asc) is bit-identical in any
    engine; float idf never participates in a comparison.

    Scale shape: term frequencies are one partial-aggregating groupBy on
    (doc, term); document frequencies reduce that SAME table by term.
    The tf⨝df join is term-keyed — left to Catalyst/AQE, which
    broadcasts when the vocabulary is small and shuffle-joins when it
    isn't (a web-scale term table is NOT broadcastable, so it must not
    be forced).  N is a 1-row broadcast; the top-k window partitions by
    doc id — bounded by per-doc vocabulary, never a global sort.
    """
    from pyspark.sql.window import Window

    words = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.when(
                F.length(F.trim(F.col(text_col))) == 0,
                F.array().cast("array<string>"),
            ).otherwise(words)
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    n_docs = tf.select("doc_id").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf_micro",
            F.round(
                (F.log((F.col("n_corpus") + 1) / (F.col("df") + 1)) + 1)
                * 1_000_000
            ).cast("bigint"),
        )
        .withColumn("score_micro", F.col("tf") * F.col("idf_micro"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("doc_id").alias(id_col),
            "term",
            "tf",
            "score_micro",
            F.col("rank").cast("int").alias("rank"),
        )
    )
