"""Named query registry — the driver-contract surface (__spark_entry__).

Each entry maps an operator from SURVEY.md §2 (or a training-pipeline
extra) to a (spark, sf_dir) → DataFrame callable, with an ANSI-SQL oracle
runnable by DuckDB on the same parquet where the semantics are
SQL-expressible.  Column names/aliases are kept identical on both sides
(the driver's comparison sorts columns by name and hashes values).

Queries whose semantics aren't independently SQL-expressible (the seeded
sampling detector, the bundled-model classifiers, the multimodal/media
extractors)
register a pinned VALUES-snapshot oracle generated by
tools/gen_snapshots.py at the driver's correctness scale — a regression
oracle; their semantic correctness gates live in tests/ (Java-parity +
golden + property tests).  Everything else has a real re-derivation
oracle (DuckDB recomputes the semantics independently).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_REGISTRY: dict[str, dict] = {}
_EMB_DIM = 64  # the data contract's embedding width, at every scale


def _snapshot(name: str):
    """Pinned VALUES-snapshot oracle (tools/gen_snapshots.py) for
    deterministic queries whose semantics aren't independently
    SQL-expressible — a regression oracle; semantic correctness of the
    same code path is golden-tested in tests/.

    Pins are PER-SCALE: the driver's correctness scale (sf0.01) lives at
    oracle_snapshots/<name>.sql, any other scale at
    oracle_snapshots/<sf_basename>/<name>.sql (generated with
    ``python tools/gen_snapshots.py <sf_dir>``).  A scale without a pin
    resolves to None → the harness records that query rows-only instead
    of comparing against a wrong-scale pin."""

    def _resolve(sf_dir: str | None = None) -> str | None:
        import os
        from importlib import resources

        base = os.path.basename(os.path.normpath(_oracle_sf_dir(sf_dir)))
        rel = (
            f"oracle_snapshots/{name}.sql"
            if base == "sf0.01"
            else f"oracle_snapshots/{base}/{name}.sql"
        )
        try:
            return (
                resources.files("language_detection_spark.data")
                .joinpath(rel)
                .read_text(encoding="utf-8")
            )
        except (FileNotFoundError, ModuleNotFoundError, OSError):
            return None

    return _resolve


def register(name: str, oracle: str | None):
    def deco(fn):
        _REGISTRY[name] = {"fn": fn, "oracle": oracle}
        return fn

    return deco


def queries():
    return {name: entry["fn"] for name, entry in _REGISTRY.items()}


def _oracle_sf_dir(sf_dir: str | None) -> str:
    """Scale dir a lazy (data-dependent literal-baking) oracle reads from.
    Explicit argument wins; otherwise the SPARK_GRAFT_SF_ORACLE env hint,
    then the driver's correctness scale.  Callers verifying any other
    scale MUST pass sf_dir (oracle_sql(sf_dir=...)) — there is no longer
    any ordering coupling with having run the query first."""
    import os

    return sf_dir or os.environ.get(
        "SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01"
    )


def oracle_sql(sf_dir: str | None = None):
    """Oracle strings; a callable entry is resolved lazily (used when the
    oracle bakes data-dependent literals, e.g. IVF centroids) — resolution
    failure degrades that query to rows-only instead of breaking import.
    ``sf_dir`` is forwarded to lazy oracles so they bake from the scale
    being verified (None → env hint → sf0.01 default)."""
    out: dict[str, str] = {}
    for name, entry in _REGISTRY.items():
        oracle = entry["oracle"]
        if callable(oracle):
            try:
                oracle = oracle(sf_dir)
            except Exception:
                oracle = None
        if oracle is not None:
            out[name] = oracle
    return out


# ---------------------------------------------------------------------------
# SQL-checkable queries
# ---------------------------------------------------------------------------

# Q3 doc stats (quality.stat_columns semantics, per document)
_DOC_STATS_SQL = """
SELECT
  doc_id,
  length(text) AS n_chars_m,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
  CASE WHEN length(trim(text)) = 0 THEN NULL
       ELSE round(length(regexp_replace(text, '\\s', '', 'g')) * 1.0 /
            len(string_split_regex(trim(text), '\\s+')), 6) END AS mean_word_len,
  len(regexp_extract_all(lower(text), '\\bthe\\b')) AS the_hits
FROM documents
"""


@register("doc_stats", _DOC_STATS_SQL)
def q_doc_stats(spark, sf_dir):
    from .operators.quality import stat_columns

    docs = _docs(spark, sf_dir)
    stats = stat_columns(F.col("text"))
    return docs.select(
        "doc_id",
        stats["n_chars"].alias("n_chars_m"),
        stats["n_words"].alias("n_words"),
        F.round(stats["mean_word_len"], 6).alias("mean_word_len"),
        F.regexp_count(F.lower(F.col("text")), F.lit(r"\bthe\b")).alias("the_hits"),
    )


# Q3/Q1 rule summary: violation counts across the corpus
_RULE_SUMMARY_SQL = """
WITH s AS (
  SELECT
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
    CASE WHEN length(trim(text)) = 0 THEN NULL
         ELSE length(regexp_replace(text, '\\s', '', 'g')) * 1.0 /
              len(string_split_regex(trim(text), '\\s+')) END AS mwl,
    lower(text) LIKE '%lorem ipsum%' AS lorem,
    contains(text, '{') AS curly
  FROM documents
)
SELECT
  count(*) AS n_docs,
  sum(CASE WHEN n_words < 50 THEN 1 ELSE 0 END)::BIGINT AS viol_min_words,
  sum(CASE WHEN n_words > 100000 THEN 1 ELSE 0 END)::BIGINT AS viol_max_words,
  sum(CASE WHEN mwl IS NULL OR mwl < 3.0 OR mwl > 10.0 THEN 1 ELSE 0 END)::BIGINT
    AS viol_mean_word_len,
  sum(CASE WHEN lorem THEN 1 ELSE 0 END)::BIGINT AS viol_lorem,
  sum(CASE WHEN curly THEN 1 ELSE 0 END)::BIGINT AS viol_curly
FROM s
"""


@register("quality_rule_summary", _RULE_SUMMARY_SQL)
def q_rule_summary(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    words = F.split(F.trim(t), r"\s+")
    n_words = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(words))
    mwl = F.when(
        n_words > 0,
        F.length(F.regexp_replace(t, r"\s", "")) / n_words,
    )
    return docs.select(
        n_words.alias("nw"),
        mwl.alias("mwl"),
        F.lower(t).contains("lorem ipsum").alias("lorem"),
        t.contains("{").alias("curly"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("nw") < 50).cast("long")).alias("viol_min_words"),
        F.sum((F.col("nw") > 100000).cast("long")).alias("viol_max_words"),
        F.sum(
            (F.col("mwl").isNull() | (F.col("mwl") < 3.0) | (F.col("mwl") > 10.0))
            .cast("long")
        ).alias("viol_mean_word_len"),
        F.sum(F.col("lorem").cast("long")).alias("viol_lorem"),
        F.sum(F.col("curly").cast("long")).alias("viol_curly"),
    )


# Q1 language keep/drop on table metadata (filter pushdown demo)
_LANG_KEEP_SQL = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE lang IN ('en', 'de') AND n_chars >= 200
"""


@register("lang_keep_filter", _LANG_KEEP_SQL)
def q_lang_keep(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .filter(F.col("lang").isin("en", "de") & (F.col("n_chars") >= 200))
        .select("doc_id", "lang", "n_chars")
    )


# E1: confusion counts of the SQL-expressible stopword detector vs labels
_STOPWORD_SCORES_SQL_FRAG = """
  SELECT lang, doc_id,
    len(regexp_extract_all(lower(text), '\\bthe\\b')) +
    len(regexp_extract_all(lower(text), '\\band\\b')) +
    len(regexp_extract_all(lower(text), '\\bthat\\b')) +
    len(regexp_extract_all(lower(text), '\\bhave\\b')) +
    len(regexp_extract_all(lower(text), '\\bwith\\b')) AS s_en,
    len(regexp_extract_all(lower(text), '\\ble\\b')) +
    len(regexp_extract_all(lower(text), '\\bla\\b')) +
    len(regexp_extract_all(lower(text), '\\bles\\b')) +
    len(regexp_extract_all(lower(text), '\\best\\b')) +
    len(regexp_extract_all(lower(text), '\\bet\\b')) AS s_fr,
    len(regexp_extract_all(lower(text), '\\bder\\b')) +
    len(regexp_extract_all(lower(text), '\\bdie\\b')) +
    len(regexp_extract_all(lower(text), '\\bdas\\b')) +
    len(regexp_extract_all(lower(text), '\\bund\\b')) +
    len(regexp_extract_all(lower(text), '\\bist\\b')) AS s_de,
    len(regexp_extract_all(lower(text), '\\bel\\b')) +
    len(regexp_extract_all(lower(text), '\\blos\\b')) +
    len(regexp_extract_all(lower(text), '\\bes\\b')) +
    len(regexp_extract_all(lower(text), '\\by\\b')) +
    len(regexp_extract_all(lower(text), '\\blas\\b')) AS s_es
  FROM documents
"""

_STOPWORD_CONFUSION_SQL = f"""
WITH sc AS ({_STOPWORD_SCORES_SQL_FRAG}),
p AS (
  SELECT lang,
    CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
         WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
         WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
         WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
         ELSE 'es' END AS pred
  FROM sc
)
SELECT lang, pred, count(*) AS n FROM p GROUP BY lang, pred ORDER BY lang, pred
"""


@register("stopword_confusion", _STOPWORD_CONFUSION_SQL)
def q_stopword_confusion(spark, sf_dir):
    from .operators.eval import confusion_counts
    from .operators.text_analysis import stopword_langid

    docs = _docs(spark, sf_dir).withColumn("pred", stopword_langid(F.col("text")))
    return confusion_counts(docs, "lang", "pred")


# E2: per-language accuracy of the stopword detector
_STOPWORD_ACCURACY_SQL = f"""
WITH sc AS ({_STOPWORD_SCORES_SQL_FRAG}),
p AS (
  SELECT lang,
    CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
         WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
         WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
         WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
         ELSE 'es' END AS pred
  FROM sc
)
SELECT lang, count(*) AS n_docs,
       round(avg(CASE WHEN lang = pred THEN 1.0 ELSE 0.0 END), 6) AS accuracy
FROM p GROUP BY lang ORDER BY lang
"""


@register("stopword_accuracy", _STOPWORD_ACCURACY_SQL)
def q_stopword_accuracy(spark, sf_dir):
    from .operators.text_analysis import stopword_langid

    docs = _docs(spark, sf_dir).withColumn("pred", stopword_langid(F.col("text")))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.avg((F.col("lang") == F.col("pred")).cast("double")), 6
            ).alias("accuracy"),
        )
        .orderBy("lang")
    )


# exact dedup clusters (md5-keyed)
_EXACT_DUP_SQL = """
SELECT text_hash, n_dups, keep_id FROM (
  SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS text_hash,
         count(*) AS n_dups, min(doc_id) AS keep_id
  FROM documents GROUP BY 1
) WHERE n_dups > 1
"""


@register("exact_dup_clusters", _EXACT_DUP_SQL)
def q_exact_dup(spark, sf_dir):
    from .operators.dedup import exact_dup_clusters

    return exact_dup_clusters(_docs(spark, sf_dir))


# MinHash signatures (8 perms, word 3-shingles) as scalar columns.
# One md5 per shingle, then affine permutations folded mod 2^61-1 — the
# oracle recomputes the identical integer arithmetic (operators/dedup.py
# affine_perm_sql, the fold minhash_sig_udf runs in numpy; bounds keep
# every intermediate in BIGINT, which DuckDB checks by erroring on
# overflow rather than wrapping).
def _minhash_sql(num_perm: int = 8, k: int = 3) -> str:
    from .operators.dedup import _perm_params, affine_perm_sql

    params = _perm_params(num_perm)
    sig_cols = ",\n  ".join(
        "list_min(list_transform(hs, h -> "
        + affine_perm_sql("h", *params[p])
        + f")) AS s{p}"
        for p in range(num_perm)
    )
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents
),
sh AS (
  SELECT doc_id,
         [array_to_string(words[i:i+{k - 1}], ' ')
          for i in range(1, len(words) - {k - 2})] AS sh
  FROM w WHERE len(words) >= {k}
),
hv AS (
  SELECT doc_id,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
  FROM sh
)
SELECT doc_id, {sig_cols} FROM hv
"""


@register("minhash_signatures", _minhash_sql())
def q_minhash_sigs(spark, sf_dir):
    from .operators.dedup import minhash_signatures
    from .plans.repartition import parallelize_scan

    sigs = minhash_signatures(
        parallelize_scan(_docs(spark, sf_dir)), num_perm=8, shingle_k=3
    )
    return sigs.select(
        F.col("id").alias("doc_id"),
        *[F.col("sig")[p].alias(f"s{p}") for p in range(8)],
    )


# document fingerprints (order-sensitive rolling hash)
_FINGERPRINT_SQL = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents
)
SELECT doc_id,
  (list_sum(list_transform(range(1, len(words) + 1),
    i -> ('0x' || substr(md5(i::VARCHAR || ':' || words[i]), 1, 15))::BIGINT
         % 1152921504606846883))
  % 1152921504606846883)::BIGINT AS fp
FROM w
"""


@register("doc_fingerprints", _FINGERPRINT_SQL)
def q_fingerprints(spark, sf_dir):
    from .operators.text_analysis import fingerprint

    return _docs(spark, sf_dir).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )


# token counts (whitespace + BPE-ish)
_TOKEN_COUNTS_SQL = """
SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-zÀ-ÿ]+|[0-9]+|[^A-Za-z0-9À-ÿ\\s]'))
    AS bpe_tokens
FROM documents
"""


@register("token_counts", _TOKEN_COUNTS_SQL)
def q_token_counts(spark, sf_dir):
    from .operators.text_analysis import bpe_token_count, whitespace_token_count

    return _docs(spark, sf_dir).select(
        "doc_id",
        whitespace_token_count(F.col("text")).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


# T1 (SQL-expressible form): token frequency counts per language
_TOKEN_FREQ_SQL = """
SELECT lang, word, count(*) AS n
FROM (
  SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents WHERE length(trim(text)) > 0
)
GROUP BY lang, word
"""


@register("train_token_counts", _TOKEN_FREQ_SQL)
def q_token_freq(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    return (
        docs.select(
            "lang", F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
        )
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# T3 (SQL-expressible form): trim tokens at threshold max(total/100000, 2)
_TOKEN_TRIM_SQL = """
WITH c AS (
  SELECT lang, word, count(*) AS n
  FROM (
    SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS word
    FROM documents WHERE length(trim(text)) > 0
  ) GROUP BY lang, word
),
tot AS (SELECT lang, sum(n) AS total FROM c GROUP BY lang)
SELECT c.lang AS lang, word, n
FROM c JOIN tot ON c.lang = tot.lang
WHERE n > greatest(tot.total // 100000, 2)
"""


@register("train_token_trim", _TOKEN_TRIM_SQL)
def q_token_trim(spark, sf_dir):
    counts = q_token_freq(spark, sf_dir)
    totals = counts.groupBy("lang").agg(F.sum("n").alias("total"))
    return (
        counts.join(F.broadcast(totals), "lang")
        .filter(
            F.col("n")
            > F.greatest(F.floor(F.col("total") / 100000), F.lit(2)).cast("bigint")
        )
        .select("lang", "word", "n")
    )


# PII scrub (Q4) — reference-regex email + ip/phone placeholders
_PII_SCRUB_SQL = """
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        text || ' contact: user' || doc_id::VARCHAR || '@mail.example ip 10.0.0.' ||
          (doc_id % 255)::VARCHAR,
        '[-_.0-9A-Za-z]{1,64}@[-_0-9A-Za-z]{1,255}[-_.0-9A-Za-z]{1,255}',
        '<EMAIL>', 'g'),
      '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
    '\\+?\\d[\\d\\s().-]{7,}\\d', '<PHONE>', 'g') AS scrubbed
FROM documents
"""


@register("pii_scrub", _PII_SCRUB_SQL)
def q_pii_scrub(spark, sf_dir):
    from .operators.quality import EMAIL_PAT, IP_PAT, PHONE_PAT

    docs = _docs(spark, sf_dir)
    withpii = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example ip 10.0.0."),
        (F.col("doc_id") % 255).cast("string"),
    )
    c = F.regexp_replace(withpii, EMAIL_PAT, "<EMAIL>")
    c = F.regexp_replace(c, IP_PAT, "<IP>")
    c = F.regexp_replace(c, PHONE_PAT, "<PHONE>")
    return docs.select("doc_id", c.alias("scrubbed"))


# similarity: brute-force cosine top-k (first 3 vectors as queries)
_SIM_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3
),
scored AS (
  SELECT q.query_id AS query_id, e.vec_id AS vec_id,
         round(list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]), 4)
           AS sim
  FROM q CROSS JOIN embeddings e
),
ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id)
           AS rank
  FROM scored
)
SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 5
"""


@register("similarity_topk", _SIM_TOPK_SQL)
def q_similarity_topk(spark, sf_dir):
    from .operators.similarity import cosine_sim

    emb = _emb(spark, sf_dir)
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    scored = q.crossJoin(emb.select("vec_id", F.col("embedding").alias("v"))).select(
        "query_id",
        "vec_id",
        F.round(
            cosine_sim(
                F.col("qv").cast("array<double>"), F.col("v").cast("array<double>")
            ),
            4,
        ).alias("sim"),
    )
    from .operators.similarity import two_phase_topk

    return two_phase_topk(scored, k=5)


# embedding stats per label
_EMB_STATS_SQL = """
SELECT label, count(*) AS n,
  round(avg(sqrt(list_sum(list_transform(embedding, x -> x * x)))), 6)
    AS avg_norm
FROM embeddings GROUP BY label ORDER BY label
"""


@register("embedding_stats", _EMB_STATS_SQL)
def q_embedding_stats(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    return (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg(norm), 6).alias("avg_norm"))
        .orderBy("label")
    )


# streaming-shaped batch agg: hourly event rollup
_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


@register("events_hourly", _EVENTS_HOURLY_SQL)
def q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total_value")
        )
        .orderBy("hour", "event_type")
    )


# gap-based sessionization, batch form (gaps-and-islands) — the SAME
# session semantics as the streaming operator (streaming/sessionize.py),
# independently re-derived by DuckDB: flag gap >= 1800s as a session
# break, running-sum the flags, aggregate per island
_EVENT_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*)::INTEGER AS n_events,
       round(sum(value), 6) AS total_value
FROM numbered GROUP BY user_id, session_no
ORDER BY user_id, session_start
"""


@register("event_sessions", _EVENT_SESSIONS_SQL)
def q_event_sessions(spark, sf_dir):
    from .streaming.sessionize import sessionize_batch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessionize_batch(ev, gap_seconds=1800)
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("total_value", 6).alias("total_value"),
    ).orderBy("user_id", "session_start")


# relational demo: pricing-summary aggregation over lineitem (TPC-H Q1
# shape — partial+final hash agg, one small shuffle, scan-bound)
_LINEITEM_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("lineitem_pricing_summary", _LINEITEM_SUMMARY_SQL)
def q_lineitem_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# relational demo: orders joined through customer/nation/region (broadcast)
_ORDERS_BY_REGION_SQL = """
SELECT r.r_name AS region, count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name ORDER BY region
"""


@register("orders_by_region", _ORDERS_BY_REGION_SQL)
def q_orders_by_region(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = F.broadcast(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    nation = F.broadcast(spark.read.parquet(f"{sf_dir}/nation.parquet"))
    region = F.broadcast(spark.read.parquet(f"{sf_dir}/region.parquet"))
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# rows-only queries (semantics not expressible in SQL; golden-tested in
# tests/ instead — the driver records the weaker check)
# ---------------------------------------------------------------------------


@register("detect_languages", _snapshot("detect_languages"))
def q_detect_languages(spark, sf_dir):
    """The real sampling NB detector over documents (I1-I4)."""
    from .models.factory import load_default_model
    from .operators.udfs import make_detect_udf

    from .plans.repartition import parallelize_scan

    model = load_default_model()
    docs = parallelize_scan(_docs(spark, sf_dir)).withColumn(
        "url", F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    )
    det = make_detect_udf(model, spark)("url", "text")
    return docs.withColumn("_d", det).select(
        "doc_id",
        F.col("_d.lang").alias("lang_pred"),
        F.round(F.col("_d.lang_conf"), 6).alias("lang_conf"),
    )


@register("detect_language_counts", _snapshot("detect_language_counts"))
def q_detect_language_counts(spark, sf_dir):
    """Aggregated detector output (stable under sampling)."""
    return (
        q_detect_languages(spark, sf_dir)
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_pred")
    )


# train_gram_counts oracle — literal-baked re-derivation (same pattern as
# the perplexity oracle): a local single-threaded pass extracts each
# document's training gram keys with the library scanner (LangProfile.update
# semantics — golden-tested vs the reference), bakes the per-doc
# (lang, gram_key, occurrences) rows, and DuckDB independently re-derives
# the cross-document aggregation.  What this verifies: the distributed
# explode + partial/final groupBy counting machinery.


def _train_gram_oracle_sql(sf_dir: str | None = None) -> str | None:
    import os

    sf_dir = _oracle_sf_dir(sf_dir)
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        return None
    import duckdb
    import numpy as np

    from .functions.ngram import extract_gram_keys_batch
    from .functions.normalize import normalize_vi

    docs = duckdb.sql(
        f"SELECT lang, text FROM '{sf_dir}/documents.parquet' "
        "WHERE text IS NOT NULL ORDER BY doc_id"
    ).fetchall()
    rows = []
    # fixed-size slices (about one Arrow batch) keep the key arrays held
    # at once bounded whatever the corpus size
    for lo in range(0, len(docs), 10_000):
        part = docs[lo : lo + 10_000]
        keys = extract_gram_keys_batch([normalize_vi(t) for _, t in part])
        for (lang, _), doc_keys in zip(part, keys):
            uk, n = np.unique(doc_keys, return_counts=True)
            rows.extend(
                f"('{lang}',{int(k)},{int(c)})" for k, c in zip(uk, n)
            )
    if not rows:
        return None
    return f"""
WITH dg(lang, gram_key, n) AS (VALUES {", ".join(rows)})
SELECT lang::VARCHAR AS lang, gram_key::BIGINT AS gram_key,
       sum(n)::BIGINT AS n
FROM dg GROUP BY lang, gram_key ORDER BY lang, gram_key
"""


@register("train_gram_counts", _train_gram_oracle_sql)
def q_train_gram_counts(spark, sf_dir):
    """T1: real char n-gram training counts.  Oracled by the literal-baked
    DuckDB re-derivation above (per-doc gram extraction baked from a local
    pass; the distributed counting re-derived in SQL)."""
    from .models.trainer import gram_counts

    docs = _docs(spark, sf_dir)
    return gram_counts(docs, "text", "lang").orderBy("lang", "gram_key")


@register("fast_langid_counts", _snapshot("fast_langid_counts"))
def q_fast_langid(spark, sf_dir):
    """I5-I8: single-pass NB classifier label distribution."""
    from .models.factory import load_default_model
    from .operators.udfs import make_fast_langid_udf
    from .plans.repartition import parallelize_scan

    cls = make_fast_langid_udf(load_default_model(), spark)
    docs = parallelize_scan(_docs(spark, sf_dir))
    return (
        docs.withColumn("pred", cls(F.col("text")))
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("pred")
    )


@register("langid_v3_counts", _snapshot("langid_v3_counts"))
def q_langid_v3(spark, sf_dir):
    """The reference's second detector (langid.py port) with its REAL
    bundled model — label distribution over documents (I5-I8 with the
    byte-DFA feature extractor F3, batch-vectorized)."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _cls(texts: pd.Series) -> pd.Series:
        from .operators.langid_v3 import LangIdV3

        lid = LangIdV3()
        langs, _ = lid.classify_batch(list(texts))
        return pd.Series(langs)

    from .plans.repartition import parallelize_scan

    return (
        parallelize_scan(_docs(spark, sf_dir))
        .withColumn("pred", _cls(F.col("text")))
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("pred")
    )


# pipeline_keep_drop oracle — literal-baked re-derivation of the FLAGSHIP
# composition (same trust pattern as the perplexity/IVF oracles): only the
# three model-driven per-doc values (lang, lang_conf, ppl) are baked from
# a local single-threaded annotate pass (bitwise-equal to the distributed
# UDF path — equality is test-locked); EVERYTHING else is recomputed
# independently by DuckDB from the documents table: the synthetic page
# url/text construction (via the closed form of the frozen extractor,
# guarded at bake time against the real extract_text(render_html(..))),
# every Gopher/C4 stat_* and rule_* column, the Q1 language rule, the Q2
# perplexity rule, the keep decision, and the PII+toxicity scrub chain
# (checksummed byte-for-byte via bit_xor of md5 prefixes).
_PIPE_BAKE_CACHE: dict[str, str] = {}


def _pipeline_oracle_sql(sf_dir: str | None = None) -> str | None:
    import os
    import re as _re

    sf_dir = _oracle_sf_dir(sf_dir)
    if sf_dir in _PIPE_BAKE_CACHE:
        return _PIPE_BAKE_CACHE[sf_dir]
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        return None
    import duckdb

    from .models.factory import load_default_model
    from .operators.detector import annotate_batch
    from .operators.udfs import _seeds_for
    from .sources.pages import extract_text, render_html

    docs = duckdb.sql(
        f"SELECT doc_id, source, text FROM '{sf_dir}/documents.parquet' "
        "ORDER BY doc_id"
    ).df()
    urls = [
        f"https://example.org/{s}/{int(d):010d}"
        for s, d in zip(docs.source, docs.doc_id)
    ]
    etexts = [
        extract_text(render_html(int(d), t if t is not None else ""))
        for d, t in zip(docs.doc_id, docs.text)
    ]
    # bake-time guard: the SQL below reconstructs the page text with the
    # closed form of the frozen extractor (template text + unicode-ws
    # collapse).  If the corpus ever gains content where the closed form
    # diverges from extract_text (e.g. unicode whitespace, entity-like
    # strings), fail the bake — the gate then shows the query rows-only
    # instead of comparing against a wrong oracle.
    for d, t, et in zip(docs.doc_id, docs.text, etexts):
        closed = _re.sub(
            r"\s+", " ", f"Document {int(d)} Home About {t or ''}"
        ).strip()
        if closed != et:
            raise ValueError(
                f"pipeline oracle closed-form text diverges for doc {d}"
            )
    m = load_default_model()
    langs, confs, ppls = annotate_batch(
        m, etexts, _seeds_for(pd.Series(urls), pd.Series(etexts), 0)
    )
    import math

    det_rows = ", ".join(
        "('{}','{}',{!r},{})".format(
            u, lg, float(c), "NULL" if math.isnan(p) else repr(float(p))
        )
        for u, lg, c, p in zip(urls, langs, confs, ppls)
    )
    sql = f"""
WITH det(url, lang, lang_conf, ppl) AS (VALUES {det_rows}),
pages AS (
  SELECT 'https://example.org/' || source || '/' ||
           lpad(doc_id::VARCHAR, 10, '0') AS url,
         trim(regexp_replace('Document ' || doc_id::VARCHAR ||
             ' Home About ' || coalesce(text, ''), '\\s+', ' ', 'g')) AS text
  FROM documents
),
ann AS (
  SELECT p.url, p.text, d.lang, d.lang_conf, d.ppl
  FROM pages p JOIN det d USING (url)
),
st AS (
  SELECT *,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
    string_split_regex(trim(text), '\\s+') AS words,
    string_split_regex(text, '\\n') AS lines,
    length(regexp_replace(text, '\\s', '', 'g')) AS non_ws,
    len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS symbol_hits,
    len(regexp_extract_all(text,
        '(?i)\\b(?:the|be|to|of|and|that|have|with)\\b')) AS stopword_hits,
    len(regexp_extract_all(text,
        '(?i)\\b(?:badword1|badword2|slur1|slur2)\\b')) AS tox_hits
  FROM ann
),
st2 AS (
  SELECT *,
    len(lines) AS n_lines,
    CASE WHEN n_words > 0 THEN non_ws / n_words END AS mean_word_len,
    CASE WHEN n_words > 0 THEN symbol_hits / n_words END AS symbol_ratio,
    CASE WHEN len(lines) > 0 THEN
      len(list_filter(lines, l -> regexp_matches(trim(l), '^([*•‣▪-])')))
        / len(lines) END AS bullet_frac,
    CASE WHEN len(lines) > 0 THEN
      len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))
        / len(lines) END AS ellipsis_frac,
    CASE WHEN len(lines) > 0 THEN
      1.0 - len(list_distinct(lines)) / len(lines) END AS dup_line_frac,
    CASE WHEN n_words > 0 THEN
      len(list_filter(words, w -> regexp_matches(w, '[A-Za-zÀ-ÿ]')))
        / n_words END AS alpha_frac
  FROM st
),
rules AS (
  SELECT
    coalesce(n_words < 50, TRUE) AS rule_too_few_words,
    coalesce(n_words > 100000, TRUE) AS rule_too_many_words,
    coalesce(NOT (mean_word_len BETWEEN 3.0 AND 10.0), TRUE)
      AS rule_mean_word_len,
    coalesce(symbol_ratio > 0.1, TRUE) AS rule_symbol_ratio,
    coalesce(bullet_frac > 0.9, TRUE) AS rule_bullet_lines,
    coalesce(ellipsis_frac > 0.3, TRUE) AS rule_ellipsis_lines,
    coalesce(stopword_hits < 1, TRUE) AS rule_few_stopwords,
    coalesce(dup_line_frac > 0.3, TRUE) AS rule_dup_lines,
    coalesce(alpha_frac < 0.8, TRUE) AS rule_alpha_words,
    coalesce(contains(lower(text), 'lorem ipsum'), TRUE) AS rule_lorem_ipsum,
    coalesce(contains(text, '{{'), TRUE) AS rule_curly_brace,
    coalesce(tox_hits > 1, TRUE) AS rule_toxicity,
    coalesce(NOT (lang IN ('en') AND lang_conf >= 0.5), TRUE)
      AS rule_language,
    coalesce(ppl > 5000.0, TRUE) AS rule_perplexity,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(text,
        '[-_.0-9A-Za-z]{{1,64}}@[-_0-9A-Za-z]{{1,255}}[-_.0-9A-Za-z]{{1,255}}',
        '<EMAIL>', 'g'),
      '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g'),
      '\\+?\\d[\\d\\s().-]{{7,}}\\d', '<PHONE>', 'g'),
      'https?://[-_.?&~;+=/#0-9A-Za-z]{{1,2076}}', '<URL>', 'g'),
      '(?i)\\b(?:badword1|badword2|slur1|slur2)\\b', '<TOX>', 'g')
      AS scrubbed_text
  FROM st2
)
SELECT
  count(*)::BIGINT AS rows_in,
  sum((NOT (rule_too_few_words OR rule_too_many_words OR rule_mean_word_len
     OR rule_symbol_ratio OR rule_bullet_lines OR rule_ellipsis_lines
     OR rule_few_stopwords OR rule_dup_lines OR rule_alpha_words
     OR rule_lorem_ipsum OR rule_curly_brace OR rule_toxicity
     OR rule_language OR rule_perplexity))::INTEGER)::BIGINT AS rows_kept,
  sum(rule_alpha_words::INTEGER)::BIGINT AS drop_alpha_words,
  sum(rule_bullet_lines::INTEGER)::BIGINT AS drop_bullet_lines,
  sum(rule_curly_brace::INTEGER)::BIGINT AS drop_curly_brace,
  sum(rule_dup_lines::INTEGER)::BIGINT AS drop_dup_lines,
  sum(rule_ellipsis_lines::INTEGER)::BIGINT AS drop_ellipsis_lines,
  sum(rule_few_stopwords::INTEGER)::BIGINT AS drop_few_stopwords,
  sum(rule_language::INTEGER)::BIGINT AS drop_language,
  sum(rule_lorem_ipsum::INTEGER)::BIGINT AS drop_lorem_ipsum,
  sum(rule_mean_word_len::INTEGER)::BIGINT AS drop_mean_word_len,
  sum(rule_perplexity::INTEGER)::BIGINT AS drop_perplexity,
  sum(rule_symbol_ratio::INTEGER)::BIGINT AS drop_symbol_ratio,
  sum(rule_too_few_words::INTEGER)::BIGINT AS drop_too_few_words,
  sum(rule_too_many_words::INTEGER)::BIGINT AS drop_too_many_words,
  sum(rule_toxicity::INTEGER)::BIGINT AS drop_toxicity,
  bit_xor(('0x' || substr(md5(scrubbed_text), 1, 15))::BIGINT)::BIGINT
    AS scrub_checksum
FROM rules
"""
    _PIPE_BAKE_CACHE[sf_dir] = sql
    return sql


@register("pipeline_keep_drop", _pipeline_oracle_sql)
def q_pipeline_keep_drop(spark, sf_dir):
    """Full quality-filter pipeline over the synthetic pages table:
    per-rule violation counts + keep count + scrubbed-text checksum
    (Q1-Q5 composed).  Oracled by the literal-baked DuckDB re-derivation
    above — every rule, the keep decision, and the scrub chain are
    recomputed in SQL; only the per-doc (lang, lang_conf, ppl) are
    baked."""
    from .models.factory import load_default_model
    from .operators.pipeline import PipelineOptions, QualityFilterPipeline
    from .operators.quality import QualityConfig
    from .sources.pages import synth_pages_df

    model = load_default_model()
    pages = synth_pages_df(spark, sf_dir)
    pipe = QualityFilterPipeline(
        spark,
        model,
        QualityConfig(lang_allow=("en",), min_stopword_hits=1),
        PipelineOptions(n_buckets=32),
    )
    ann = pipe.annotate(pages)
    rule_cols = sorted(c for c in ann.columns if c.startswith("rule_"))
    return ann.agg(
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.col("keep").cast("long")).alias("rows_kept"),
        *[F.sum(F.col(c).cast("long")).alias(f"drop_{c[5:]}") for c in rule_cols],
        F.bit_xor(
            F.conv(F.substring(F.md5("scrubbed_text"), 1, 15), 16, 10)
            .cast("long")
        ).alias("scrub_checksum"),
    )


# SimHash values per document — the python-UDF hash math is reproducible
# in SQL because the token hash is the shared md5-prefix-int
_SIMHASH_VALUES_SQL = """
WITH w AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents WHERE length(trim(text)) > 0
),
h AS (SELECT doc_id, ('0x'||substr(md5(word),1,15))::BIGINT AS hw FROM w),
b AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (hw >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS score
  FROM h CROSS JOIN (SELECT unnest(range(0,60)) AS bit) bits
  GROUP BY doc_id, bit
)
SELECT doc_id,
       sum(CASE WHEN score > 0 THEN 1::BIGINT << bit ELSE 0::BIGINT END)::BIGINT
         AS simhash
FROM b GROUP BY doc_id
"""


@register("simhash_values", _SIMHASH_VALUES_SQL)
def q_simhash_values(spark, sf_dir):
    from .operators.dedup import simhash_udf

    from .plans.repartition import parallelize_scan

    return (
        parallelize_scan(_docs(spark, sf_dir).filter(F.length(F.trim("text")) > 0))
        .select("doc_id", simhash_udf()(F.col("text")).alias("simhash"))
    )


# SimHash near-dup pairs — the oracle is the EXACT all-pairs Hamming ball
# (O(n²) is fine at oracle scale), so it checks the blocking scheme's
# recall, not just the arithmetic: max_hamming + key_chunks disjoint
# chunks guarantee every pair within the ball is a candidate (pigeonhole).
_SIMHASH_PAIRS_SQL = f"""
WITH sv AS ({_SIMHASH_VALUES_SQL})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming
FROM sv a JOIN sv b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
ORDER BY id_a, id_b
"""


@register("simhash_near_dups", _SIMHASH_PAIRS_SQL)
def q_simhash(spark, sf_dir):
    from .operators.dedup import simhash_near_dup_pairs

    from .plans.repartition import parallelize_scan

    # empty docs hash to 0 and would all pair degenerately; the values
    # oracle excludes them too.  key_chunks=2 (Manku multi-chunk blocking)
    # keeps the pigeonhole EXACT-recall guarantee with ~13x smaller
    # buckets, so the degenerate-bucket cap never has to drop pairs — with
    # single-chunk keys the sf0.1 corpus overflows the cap and loses 2166
    # pairs vs the exact all-pairs oracle (caught by the sf0.1 gate)
    docs = parallelize_scan(
        _docs(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    )
    return simhash_near_dup_pairs(
        docs, max_hamming=8, key_chunks=2
    ).orderBy("id_a", "id_b")


# full near-dup pipeline: 16-perm signatures → 4-band LSH buckets →
# exact shingle-set Jaccard ≥ 0.5 — the whole thing is SQL-reproducible
def _minhash_pairs_sql(num_perm: int = 16) -> str:
    from .operators.dedup import _perm_params, affine_perm_sql

    params = _perm_params(num_perm)
    sig_list = ",\n            ".join(
        "list_min(list_transform(hs, h -> " + affine_perm_sql("h", a, b) + "))"
        for a, b in params
    )
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents
),
sh AS (
  SELECT doc_id,
         [array_to_string(words[i:i+2], ' ')
          for i in range(1, len(words) - 1)] AS sh
  FROM w WHERE len(words) >= 3
),
hv AS (
  SELECT doc_id, sh,
         list_transform(sh, s -> ('0x'||substr(md5(s),1,15))::BIGINT) AS hs
  FROM sh
),
sig AS (
  SELECT doc_id,
         [{sig_list}] AS sig
  FROM hv
),
banded AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(sig[b*4+1:b*4+4], ',')) AS band_hash
  FROM sig CROSS JOIN (SELECT unnest(range(0,4)) AS b) bands
),
sized AS (SELECT band, band_hash, count(*) AS sz FROM banded GROUP BY 1, 2),
bf AS (
  SELECT banded.* FROM banded JOIN sized USING (band, band_hash)
  WHERE sz <= 1000
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bf a JOIN bf b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(sh) AS sset FROM sh),
ver AS (
  SELECT id_a, id_b,
         len(list_intersect(sa.sset, sb.sset)) AS ni,
         len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset))
           AS nu
  FROM cand
  JOIN sets sa ON sa.doc_id = id_a
  JOIN sets sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, round(ni * 1.0 / nu, 6) AS jaccard
FROM ver WHERE ni * 1.0 / nu >= 0.5 ORDER BY id_a, id_b
"""


@register("minhash_near_dups", _minhash_pairs_sql())
def q_minhash_pairs(spark, sf_dir):
    from .operators.dedup import minhash_dedup_pairs
    from .plans.repartition import parallelize_scan

    out = minhash_dedup_pairs(parallelize_scan(_docs(spark, sf_dir)), threshold=0.5)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


# Incremental dedup: new batch (doc_id >= 250) probed against the
# signature STORE built from the old corpus (doc_id < 250) — the
# continuous-crawl shape.  Verification is the signature-estimated
# Jaccard (the store keeps signatures, not shingle sets); the oracle
# re-derives both sides' signatures, the band join, and the estimate.
def _incremental_sql(num_perm: int = 16, bands: int = 4,
                     threshold: float = 0.5, split: int = 250) -> str:
    from .operators.dedup import _perm_params, affine_perm_sql

    params = _perm_params(num_perm)
    sig_list = ",\n            ".join(
        "list_min(list_transform(hs, h -> " + affine_perm_sql("h", a, b) + "))"
        for a, b in params
    )
    rpb = num_perm // bands
    est = (
        f"len(list_filter(range(1, {num_perm + 1}),"
        " i -> sn.sig[i] = so.sig[i]))"
        f" / {num_perm}.0"
    )
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents
),
sh AS (
  SELECT doc_id,
         [array_to_string(words[i:i+2], ' ')
          for i in range(1, len(words) - 1)] AS sh
  FROM w WHERE len(words) >= 3
),
hv AS (
  SELECT doc_id,
         list_transform(sh, s -> ('0x'||substr(md5(s),1,15))::BIGINT) AS hs
  FROM sh
),
sig AS (SELECT doc_id, [{sig_list}] AS sig FROM hv),
old AS (SELECT * FROM sig WHERE doc_id < {split}),
new AS (SELECT * FROM sig WHERE doc_id >= {split}),
ob AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(sig[b*{rpb}+1:b*{rpb}+{rpb}], ',')) AS band_hash
  FROM old CROSS JOIN (SELECT unnest(range(0, {bands})) AS b) bands
),
nb AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(sig[b*{rpb}+1:b*{rpb}+{rpb}], ',')) AS band_hash
  FROM new CROSS JOIN (SELECT unnest(range(0, {bands})) AS b) bands
),
cand AS (
  SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
  FROM nb n JOIN ob o ON n.band = o.band AND n.band_hash = o.band_hash
)
SELECT id_new, id_old, round({est}, 6) AS est_jaccard
FROM cand
JOIN new sn ON sn.doc_id = id_new
JOIN old so ON so.doc_id = id_old
WHERE {est} >= {threshold}
ORDER BY id_new, id_old
"""


@register("incremental_near_dups", _incremental_sql())
def q_incremental_near_dups(spark, sf_dir):
    from .operators.dedup import (
        banded_rows,
        incremental_near_dups,
        minhash_signatures,
    )
    from .plans.repartition import parallelize_scan

    from .plans.caching import persist_tracked

    docs = parallelize_scan(_docs(spark, sf_dir))
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    # persist: incremental_near_dups references the store THREE times
    # (bucket sizes, candidate join, signature verification); without a
    # persist each reference re-runs the old side's shingle+minhash DAG.
    # The parquet-backed production path (build_sig_store) never hits
    # this — only this inline-built store does.
    store = persist_tracked(banded_rows(minhash_signatures(old)))
    return incremental_near_dups(new, store).orderBy("id_new", "id_old")


# Near-dup clusters: connected components (large-star/small-star) over the
# UNION of the MinHash and SimHash pair graphs.  The oracle re-derives the
# whole thing independently — both pair generators in SQL, then transitive
# closure via a recursive CTE with min-label aggregation.
_NEAR_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE mh AS ({_minhash_pairs_sql()}),
shp AS ({_SIMHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM mh
  UNION
  SELECT id_a AS u, id_b AS v FROM shp
),
sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
reach(node, lbl) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.v, r.lbl FROM reach r JOIN sym s ON s.u = r.node
),
comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
SELECT node AS doc_id, cluster_id,
       (count(*) OVER (PARTITION BY cluster_id))::INTEGER AS cluster_size
FROM comp ORDER BY doc_id
"""


@register("near_dup_clusters", _NEAR_DUP_CLUSTERS_SQL)
def q_near_dup_clusters(spark, sf_dir):
    from .operators.dedup import near_dup_clusters
    from .plans.repartition import parallelize_scan

    return near_dup_clusters(
        parallelize_scan(_docs(spark, sf_dir))
    ).orderBy("doc_id")


def _ann_lsh_oracle_sql(dim: int = _EMB_DIM, n_planes: int = 6, seed: int = 7) -> str:
    """The LSH ANN pipeline is SQL-reproducible once the hyperplanes are
    baked in as literals: DuckDB recomputes sign-bit buckets, Hamming-1
    probes, and the exact cosine re-rank — a REAL oracle for the
    bucketing/probing logic, not a snapshot."""
    from .operators.similarity import _planes

    planes = _planes(dim, n_planes, seed)  # (dim, H); bucket bit i = sign(v·planes[:,i])
    plane_lits = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in planes[:, i]) + "]"
        for i in range(n_planes)
    )
    return f"""
WITH eb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
    list_sum(list_transform(range(0, {n_planes}), i ->
      CASE WHEN list_dot_product(embedding::DOUBLE[], [{plane_lits}][i + 1]) > 0
           THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM eb WHERE vec_id < 3),
probes AS (
  SELECT query_id, qv,
    unnest(list_prepend(qb,
      list_transform(range(0, {n_planes}), i -> xor(qb, 1::BIGINT << i))))
      AS bucket
  FROM q
),
scored AS (
  SELECT p.query_id AS query_id, e.vec_id AS vec_id,
         list_cosine_similarity(p.qv, e.v) AS sim_raw
  FROM probes p JOIN eb e USING (bucket)
),
ranked AS (
  SELECT query_id, vec_id, sim_raw,
         row_number() OVER (PARTITION BY query_id ORDER BY sim_raw DESC, vec_id)
           AS rank
  FROM scored
)
SELECT query_id, vec_id, round(sim_raw, 6) AS sim, rank::INTEGER AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


@register("ann_lsh_topk", _ann_lsh_oracle_sql())
def q_ann_lsh(spark, sf_dir):
    from .operators.similarity import lsh_topk

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # 6 planes → 64 buckets: sized so buckets hold enough candidates for a
    # meaningful top-k at these row counts (recall/cost knob); Hamming-1
    # multi-probe lifts recall without widening buckets
    out = lsh_topk(emb, q, dim=_EMB_DIM, k=5, n_planes=6, probe_hamming=1)
    return out.select(
        "query_id", "vec_id", F.round("sim", 6).alias("sim"), "rank"
    ).orderBy("query_id", "rank")


# IVF ANN — the coarse-quantizer scale path (data-adapted partitions).
# The oracle is built LAZILY: it trains the SAME deterministic k-means
# (identical sample: first 256 vec_ids, identical numpy arithmetic) from
# the parquet directly, bakes the centroids as literals, and re-derives
# assignment, probing and re-rank with window functions.
_IVF_PARAMS = dict(n_centroids=8, nprobe=2, sample_n=256, seed=5)

# the lazy oracle bakes centroids from the SAME table the query reads —
# sf_dir is threaded in explicitly by oracle_sql(sf_dir) (env hint as the
# fallback); if the path is absent the oracle degrades to rows-only by
# returning None


def _ann_ivf_oracle_sql(sf_dir: str | None = None) -> str | None:
    import os

    import duckdb
    import numpy as np

    from .operators.similarity import kmeans_fit

    sf_dir = _oracle_sf_dir(sf_dir)
    if not os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
        return None
    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {_IVF_PARAMS['sample_n']}"
    ).fetchall()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    C = kmeans_fit(X, _IVF_PARAMS["n_centroids"], seed=_IVF_PARAMS["seed"])
    lits = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in c) + "]" for c in C
    )
    k = _IVF_PARAMS["n_centroids"]
    nprobe = _IVF_PARAMS["nprobe"]
    return f"""
WITH eb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cd AS (
  -- assignment ranks by dot product; per-vector L2 normalization is a
  -- positive per-row scale, so it cannot change the DESC order within a
  -- vec_id (the Spark side normalizes; both argmax identically)
  SELECT vec_id, v, i AS c,
         list_dot_product(v, [{lits}][i + 1]) AS d
  FROM eb CROSS JOIN (SELECT unnest(range(0, {k})) AS i) ci
),
ranked AS (
  SELECT vec_id, v, c,
         row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, c) AS r
  FROM cd
),
base AS (SELECT vec_id, v, c FROM ranked WHERE r = 1),
probes AS (
  SELECT vec_id AS query_id, v AS qv, c
  FROM ranked WHERE vec_id < 3 AND r <= {nprobe}
),
scored AS (
  SELECT p.query_id AS query_id, b.vec_id AS vec_id,
         list_cosine_similarity(p.qv, b.v) AS sim_raw
  FROM probes p JOIN base b USING (c)
),
rr AS (
  SELECT query_id, vec_id, sim_raw,
         row_number() OVER (PARTITION BY query_id ORDER BY sim_raw DESC, vec_id)
           AS rank
  FROM scored
)
SELECT query_id, vec_id, round(sim_raw, 6) AS sim, rank::INTEGER AS rank
FROM rr WHERE rank <= 5 ORDER BY query_id, rank
"""


@register("ann_ivf_topk", _ann_ivf_oracle_sql)
def q_ann_ivf(spark, sf_dir):
    from .operators.similarity import ivf_topk
    from .plans.repartition import parallelize_scan

    emb = parallelize_scan(_emb(spark, sf_dir))
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(
        emb, q, k=5,
        n_centroids=_IVF_PARAMS["n_centroids"],
        nprobe=_IVF_PARAMS["nprobe"],
        sample_n=_IVF_PARAMS["sample_n"],
        seed=_IVF_PARAMS["seed"],
    )
    return out.select(
        "query_id", "vec_id", F.round("sim", 6).alias("sim"), "rank"
    ).orderBy("query_id", "rank")


@register("multimodal_features", _snapshot("multimodal_features"))
def q_multimodal(spark, sf_dir):
    from .operators.multimodal import extract_features, synth_media_df

    media = synth_media_df(spark, n=200)
    feats = extract_features(media, fake=True)
    return feats.select(
        "media_id", "kind", "n_bytes", F.round("byte_mean", 6).alias("byte_mean")
    ).orderBy("media_id")


@register("media_metadata", _snapshot("media_metadata"))
def q_media_metadata(spark, sf_dir):
    """Header-walk container metadata over genuine encoded payloads —
    probe_media is REAL for every format (incl. compressed JPEG/MP4; this
    table exercises the BMP/PNG/GIF/WAV paths).  Deterministic: seeded
    synthetic files.  Snapshot-pinned oracle; semantics golden-tested in
    tests/test_media_probe.py incl. hand-built compressed payloads."""
    from .operators.multimodal import media_metadata, synth_real_media_df

    media = synth_real_media_df(spark, n=200)
    return media_metadata(media).orderBy("media_id")


@register("multimodal_real_features", _snapshot("multimodal_real_features"))
def q_multimodal_real(spark, sf_dir):
    """Feature extraction over GENUINE encoded payloads (24-bit BMP, 8-bit
    PNG with cycling filter types, LZW GIF, PCM16 WAV) decoded by the
    pure-numpy codecs — fake=False, no stub on this path.  Deterministic:
    payloads are seeded synthetic files."""
    from .operators.multimodal import extract_features, synth_real_media_df

    media = synth_real_media_df(spark, n=200)
    feats = extract_features(media, fake=False)
    return feats.select(
        "media_id", "kind", "n_bytes", F.round("byte_mean", 6).alias("byte_mean")
    ).orderBy("media_id")


@register("video_frame_features", _snapshot("video_frame_features"))
def q_video_frame_features(spark, sf_dir):
    """Video frame sampling + per-frame decode over GENUINE MJPEG-AVI
    payloads (RIFF container walk, every-2nd-frame schedule, each sampled
    frame decoded by the native JPEG codec — baseline and progressive
    frames alternate).  The mapInPandas shape a video curation pipeline
    uses at scale: only sampled frames are decoded.  Output is ONE ROW
    PER SAMPLED FRAME with atomic-typed columns only (media_id,
    frame_idx, n_frames, n_sampled, frame_mean) so any result harness
    can sort/hash it.  Deterministic: seeded synthetic clips;
    snapshot-pinned oracle, semantics round-trip-tested in
    tests/test_codecs.py."""
    from .operators.multimodal import extract_frame_features, synth_video_df

    videos = synth_video_df(spark, n=40)
    return extract_frame_features(videos, every_n=2).orderBy(
        "media_id", "frame_idx"
    )


# URL canonicalization + URL-level dup groups — the crawl pipeline's
# FIRST dedup stage.  Both engines construct the same messy url variants
# from doc_id (scheme/host case, default port, tracking params, param
# order, www., trailing slash, fragment), then DuckDB independently
# re-derives the whole canonicalization (regex parse, port/www strips,
# param filter+sort+rejoin) and the dup grouping.
_CANONICAL_URL_SQL = r"""
WITH u AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/docs/' || (doc_id % 50)::VARCHAR
                  || '/?utm_source=feed&b=2&a=1#sec'
      WHEN 1 THEN 'https://example.com/docs/' || (doc_id % 50)::VARCHAR
                  || '?a=1&b=2'
      WHEN 2 THEN 'HTTP://Example.COM:80/docs/' || (doc_id % 50)::VARCHAR || '/'
      ELSE 'http://example.com/docs/' || (doc_id % 50)::VARCHAR
    END AS url
  FROM documents
),
parts AS (
  SELECT url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
      AS hostport,
    regexp_replace(
      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      '/$', '') AS path,
    regexp_extract(url, '\?([^#]*)', 1) AS query
  FROM u
),
q AS (
  SELECT *,
    array_to_string(list_sort(list_filter(string_split(query, '&'),
      p -> len(p) > 0 AND NOT regexp_matches(p,
        '^(utm_|gclid=|fbclid=|msclkid=|mc_eid=)'))), '&') AS qcanon
  FROM parts
),
canon AS (
  SELECT url,
    CASE WHEN scheme = '' THEN lower(trim(url)) ELSE
      scheme || '://' ||
      regexp_replace(regexp_replace(hostport, '^www\.', ''),
        ':' || (CASE WHEN scheme = 'https' THEN '443' ELSE '80' END) || '$',
        '') ||
      path ||
      (CASE WHEN qcanon != '' THEN '?' || qcanon ELSE '' END)
    END AS canonical_url
  FROM q
)
SELECT canonical_url, count(*)::BIGINT AS n_variants, min(url) AS first_url
FROM canon GROUP BY canonical_url ORDER BY canonical_url
"""


@register("canonical_url_dups", _CANONICAL_URL_SQL)
def q_canonical_url_dups(spark, sf_dir):
    """URL-level dedup: canonicalize messy url variants (pure codegen
    expressions — scheme/host case, www., default ports, fragments,
    tracking params, param order, trailing slash) and group by the
    canonical string.  One partial-agg groupBy keyed by the canonical
    url — the same 10^12-row shape as exact text dedup, run BEFORE any
    content is fetched or hashed."""
    from .operators.text_analysis import url_dup_groups

    docs = _docs(spark, sf_dir)
    slot = F.pmod(F.col("doc_id"), F.lit(50)).cast("string")
    m = F.pmod(F.col("doc_id"), F.lit(4))
    url = (
        F.when(m == 0, F.concat(
            F.lit("HTTPS://WWW.Example.COM:443/docs/"), slot,
            F.lit("/?utm_source=feed&b=2&a=1#sec")))
        .when(m == 1, F.concat(
            F.lit("https://example.com/docs/"), slot, F.lit("?a=1&b=2")))
        .when(m == 2, F.concat(
            F.lit("HTTP://Example.COM:80/docs/"), slot, F.lit("/")))
        .otherwise(F.concat(F.lit("http://example.com/docs/"), slot))
    )
    return url_dup_groups(docs.select(url.alias("url"))).orderBy(
        "canonical_url"
    )


# quality score (C4/Gopher-flavored heuristic, pure expressions)
_QUALITY_SCORE_SQL = """
WITH s AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
    string_split_regex(trim(text), '\\s+') AS words,
    length(regexp_replace(text, '\\s', '', 'g')) AS non_ws
  FROM documents
),
t AS (
  SELECT doc_id, n_words,
    CASE WHEN n_words > 0 THEN non_ws * 1.0 / n_words ELSE 0.0 END AS mwl,
    CASE WHEN n_words > 0 THEN
      len(list_filter(words, w -> regexp_matches(w, '[A-Za-zÀ-ÿ]'))) * 1.0
        / n_words
    ELSE 0.0 END AS alpha_frac
  FROM s
)
SELECT doc_id,
  round(least(n_words / 50.0, 1.0)
        * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)
        * alpha_frac, 6) AS q_score
FROM t
"""


@register("quality_scores", _QUALITY_SCORE_SQL)
def q_quality_scores(spark, sf_dir):
    from .operators.text_analysis import quality_score

    return _docs(spark, sf_dir).select(
        "doc_id", quality_score(F.col("text")).alias("q_score")
    )


# Gopher repetition family (Rae et al. 2021 Table A1): characters covered
# by the most repetition-heavy word 2-gram and by all duplicated word
# 5-grams, as fractions of non-space characters
_REPETITION_SQL = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words,
         length(regexp_replace(text, '\\s', '', 'g')) AS total
  FROM documents
),
g2 AS (
  SELECT doc_id, total,
         unnest([array_to_string(words[i:i+1], ' ')
                 for i in range(1, len(words))]) AS gram
  FROM w WHERE len(words) >= 2
),
c2 AS (SELECT doc_id, total, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2, 3),
t2 AS (
  SELECT doc_id,
         round(least(max(cnt * length(replace(gram, ' ', '')))::DOUBLE
               / greatest(max(total), 1), 1.0), 6) AS top2gram_char_frac
  FROM c2 GROUP BY doc_id
),
g5 AS (
  SELECT doc_id, total,
         unnest([array_to_string(words[i:i+4], ' ')
                 for i in range(1, len(words) - 3)]) AS gram
  FROM w WHERE len(words) >= 5
),
c5 AS (SELECT doc_id, total, gram, count(*) AS cnt FROM g5 GROUP BY 1, 2, 3),
t5 AS (
  SELECT doc_id,
         round(least(sum(CASE WHEN cnt >= 2
                        THEN cnt * length(replace(gram, ' ', ''))
                        ELSE 0 END)::DOUBLE
               / greatest(max(total), 1), 1.0), 6) AS dup5gram_char_frac
  FROM c5 GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(t2.top2gram_char_frac, 0.0) AS top2gram_char_frac,
       coalesce(t5.dup5gram_char_frac, 0.0) AS dup5gram_char_frac
FROM documents d
LEFT JOIN t2 USING (doc_id)
LEFT JOIN t5 USING (doc_id)
ORDER BY doc_id
"""


@register("repetition_stats", _REPETITION_SQL)
def q_repetition_stats(spark, sf_dir):
    from .operators.text_analysis import ngram_repetition_stats

    return ngram_repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


# Per-source (domain) aggregate profile — the domain-level-filtering input.
# The Spark quality_score rounds per-doc to 6 digits, so the oracle rounds
# per-doc BEFORE averaging too — the means must agree operation-for-
# operation, not just approximately.
_SOURCE_STATS_SQL = """
WITH s AS (
  SELECT doc_id, source, lang, text,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
    string_split_regex(trim(text), '\\s+') AS words,
    length(regexp_replace(text, '\\s', '', 'g')) AS non_ws
  FROM documents
),
t AS (
  SELECT doc_id, source, lang, text, n_words,
    CASE WHEN n_words > 0 THEN non_ws * 1.0 / n_words ELSE 0.0 END AS mwl,
    CASE WHEN n_words > 0 THEN
      len(list_filter(words, w -> regexp_matches(w, '[A-Za-zÀ-ÿ]'))) * 1.0
        / n_words
    ELSE 0.0 END AS alpha_frac
  FROM s
)
SELECT source,
  count(*)::BIGINT AS n_docs,
  round(avg(length(text)), 6) AS mean_chars,
  round(avg(round(least(n_words / 50.0, 1.0)
            * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)
            * alpha_frac, 6)), 6) AS mean_quality,
  count(DISTINCT lang)::BIGINT AS n_langs
FROM t GROUP BY source ORDER BY source
"""


@register("source_stats", _SOURCE_STATS_SQL)
def q_source_stats(spark, sf_dir):
    from .operators.text_analysis import source_stats

    return source_stats(_docs(spark, sf_dir)).orderBy("source")


# Per-domain cap: keep at most k docs per source by quality score.  The
# Spark side is the two-phase salted rank (no global per-source window);
# the oracle IS the global window — proving the two-phase plan equals the
# naive semantics exactly.
_SOURCE_CAP_SQL = f"""
WITH qs AS ({_QUALITY_SCORE_SQL}),
j AS (
  SELECT d.doc_id, d.source, qs.q_score
  FROM documents d JOIN qs USING (doc_id)
),
r AS (
  SELECT doc_id, source, q_score,
         row_number() OVER (
           PARTITION BY source ORDER BY q_score DESC, doc_id
         ) AS rnk
  FROM j
)
SELECT doc_id, source, q_score, rnk::INTEGER AS rank
FROM r WHERE rnk <= 2 ORDER BY source, rank
"""


# CCNet-style per-language quality terciles: cutoffs re-derived in DuckDB
# via quantile_cont (same linear interpolation as Spark's exact
# percentile), labels by the same <= comparisons on 6-digit-rounded
# cutoffs
_TERCILES_SQL = f"""
WITH qs AS ({_QUALITY_SCORE_SQL}),
j AS (
  SELECT d.doc_id, d.lang, qs.q_score FROM documents d JOIN qs USING (doc_id)
),
cuts AS (
  SELECT lang,
         round(quantile_cont(q_score, 1.0/3.0), 6) AS c1,
         round(quantile_cont(q_score, 2.0/3.0), 6) AS c2
  FROM j GROUP BY lang
)
SELECT j.doc_id, j.lang, j.q_score,
       CASE WHEN j.q_score <= c.c1 THEN 'tail'
            WHEN j.q_score <= c.c2 THEN 'middle'
            ELSE 'head' END AS tercile
FROM j JOIN cuts c USING (lang)
ORDER BY doc_id
"""


@register("quality_terciles", _TERCILES_SQL)
def q_quality_terciles(spark, sf_dir):
    from .operators.text_analysis import quality_terciles

    return quality_terciles(_docs(spark, sf_dir)).orderBy("doc_id")


# Test-set decontamination (GPT-3-style word-n-gram collision check):
# eval = every 23rd doc, train = the rest; the oracle re-derives the gram
# hashing (md5-prefix bigint), the eval hash set, and the per-doc
# collision counts entirely in SQL.
_DECONTAM_N = 5
_DECONTAM_SQL = f"""
WITH tw AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words,
         length(trim(text)) AS lt
  FROM documents
),
grams AS (
  SELECT doc_id,
    CASE WHEN lt = 0 OR len(words) < {_DECONTAM_N} THEN []::BIGINT[]
         ELSE list_transform(
                range(1, len(words) - {_DECONTAM_N} + 2),
                i -> ('0x' || substr(md5(
                       array_to_string(words[i : i + {_DECONTAM_N} - 1], ' ')
                     ), 1, 15))::BIGINT)
    END AS gh
  FROM tw
),
ev AS (
  SELECT DISTINCT unnest(gh) AS gh FROM grams WHERE doc_id % 23 = 0
),
unnested AS (
  SELECT doc_id, unnest(gh) AS gh FROM grams WHERE doc_id % 23 <> 0
),
hits AS (
  SELECT u.doc_id, count(*)::BIGINT AS n_grams,
         sum(CASE WHEN e.gh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_contaminated
  FROM unnested u LEFT JOIN ev e USING (gh)
  GROUP BY u.doc_id
)
SELECT t.doc_id,
       coalesce(h.n_grams, 0)::BIGINT AS n_grams,
       coalesce(h.n_contaminated, 0)::BIGINT AS n_contaminated,
       coalesce(h.n_contaminated, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM tw WHERE doc_id % 23 <> 0) t
LEFT JOIN hits h USING (doc_id)
ORDER BY t.doc_id
"""


@register("decontaminate_docs", _DECONTAM_SQL)
def q_decontaminate(spark, sf_dir):
    """Per-train-doc eval-collision counts (word {n}-grams)."""
    from .operators.text_analysis import decontaminate

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 23 == 0)
    tr = docs.filter(F.col("doc_id") % 23 != 0)
    return decontaminate(tr, ev, n=_DECONTAM_N).orderBy("doc_id")


# C4-style passage dedup: fixed 5-word spans, first corpus occurrence
# wins, documents rebuilt from surviving spans.  The oracle re-derives
# span extraction, the keep decision (via a window — a deliberately
# DIFFERENT mechanism than the engine's partial-agg min) and the
# reconstruction.
_PASSAGE_K = 5
_PASSAGE_DEDUP_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words,
         length(trim(text)) AS lt
  FROM documents
),
p AS (
  SELECT doc_id, i::INTEGER AS pos,
         array_to_string(words[(i-1)*{_PASSAGE_K}+1 : i*{_PASSAGE_K}], ' ')
           AS span
  FROM w, unnest(range(1, (len(words) + {_PASSAGE_K} - 1)
                          // {_PASSAGE_K} + 1)) AS t(i)
  WHERE lt > 0
),
r AS (
  SELECT doc_id, pos, span,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
  FROM p
),
tot AS (SELECT doc_id, count(*)::BIGINT AS n_passages FROM p GROUP BY doc_id),
reb AS (
  SELECT doc_id, count(*)::BIGINT AS n_kept,
         string_agg(span, ' ' ORDER BY pos) AS text_dedup
  FROM r WHERE rn = 1 GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(t.n_passages, 0)::BIGINT AS n_passages,
       (coalesce(t.n_passages, 0) - coalesce(rb.n_kept, 0))::BIGINT
         AS n_dropped,
       coalesce(rb.text_dedup, '') AS text_dedup
FROM (SELECT doc_id FROM documents) d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN reb rb USING (doc_id)
ORDER BY d.doc_id
"""


@register("passage_dedup_docs", _PASSAGE_DEDUP_SQL)
def q_passage_dedup(spark, sf_dir):
    from .operators.dedup import passage_dedup

    return passage_dedup(_docs(spark, sf_dir), k=_PASSAGE_K).orderBy("doc_id")


# Dataset mixing: deterministic per-source weighted subsampling (hash-
# Bernoulli keep decision, integer arithmetic — zero float-boundary risk
# across engines); rates themselves are hash-derived so the oracle
# re-derives EVERYTHING
_WEIGHTED_SAMPLE_SQL = """
WITH s AS (
  SELECT doc_id, source,
         ('0x'||substr(md5(source),1,15))::BIGINT % 5 AS m,
         ('0x'||substr(md5('mix:v1:'||doc_id::VARCHAR),1,15))::BIGINT
           % 1000000 AS sample_bucket
  FROM documents
)
SELECT doc_id, source, round((m + 1) / 6.0, 6) AS keep_rate, sample_bucket
FROM s
WHERE sample_bucket * 6 < (m + 1) * 1000000
ORDER BY doc_id
"""


@register("source_weighted_sample", _WEIGHTED_SAMPLE_SQL)
def q_source_weighted_sample(spark, sf_dir):
    from .operators.text_analysis import weighted_sample_by_source

    return weighted_sample_by_source(_docs(spark, sf_dir)).orderBy("doc_id")


# Deterministic corpus split: md5-hash bucket assignment, reproducible in
# any engine — the auditable train/holdout mechanism for 10^12-row tables
_HOLDOUT_SQL = """
SELECT doc_id,
       (('0x'||substr(md5('split:v1:'||doc_id::VARCHAR),1,15))::BIGINT % 1000)
         ::INTEGER AS split_bucket,
       (('0x'||substr(md5('split:v1:'||doc_id::VARCHAR),1,15))::BIGINT % 1000)
         < 100 AS is_holdout
FROM documents ORDER BY doc_id
"""


@register("holdout_split", _HOLDOUT_SQL)
def q_holdout_split(spark, sf_dir):
    from .operators.text_analysis import holdout_split

    return holdout_split(_docs(spark, sf_dir)).select(
        "doc_id", "split_bucket", "is_holdout"
    ).orderBy("doc_id")


@register("source_capped_docs", _SOURCE_CAP_SQL)
def q_source_capped_docs(spark, sf_dir):
    from .operators.text_analysis import cap_per_source

    return cap_per_source(_docs(spark, sf_dir), k=2).orderBy("source", "rank")


# embedding-cosine near-dup pairs: bucketed self-join + exact verify —
# plane-baked oracle recomputes bucket assignment and cosine independently
def _emb_near_dup_sql(dim: int = _EMB_DIM, n_planes: int = 4, seed: int = 11,
                      threshold: float = 0.3) -> str:
    from .operators.similarity import _planes

    planes = _planes(dim, n_planes, seed)
    plane_lits = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in planes[:, i]) + "]"
        for i in range(n_planes)
    )
    return f"""
WITH eb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
    list_sum(list_transform(range(0, {n_planes}), i ->
      CASE WHEN list_dot_product(embedding::DOUBLE[], [{plane_lits}][i + 1]) > 0
           THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS sim
FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= {threshold}
ORDER BY id_a, id_b
"""


@register("embedding_near_dups", _emb_near_dup_sql())
def q_embedding_near_dups(spark, sf_dir):
    from .operators.similarity import embedding_near_dup_pairs

    emb = _emb(spark, sf_dir)
    out = embedding_near_dup_pairs(
        emb, dim=_EMB_DIM, threshold=0.3, n_planes=4, seed=11
    )
    return out.select(
        "id_a", "id_b", F.round("sim", 6).alias("sim")
    ).orderBy("id_a", "id_b")


# Perplexity oracles — literal-baked DuckDB RE-DERIVATION (not a snapshot
# pin): a local single-threaded bake (plain Python/numpy, no Spark) extracts
# each document's gram keys and language with the library functions, then
# bakes ONLY raw inputs — (doc, lang), (doc, trigram-key, occurrences) and
# the referenced (trigram-key, lang) → (count3, prefix-count2) LM rows — as
# VALUES CTEs.  DuckDB independently re-derives the add-alpha smoothing
# logp = ln(c3+a) − ln(c2+aV), the per-doc perplexity exp(−Σ n·logp / Σ n),
# the per-language aggregation, and the CCNet tercile cuts
# (quantile_cont == Spark F.percentile, bitwise — see quality_terciles).
# What this verifies end-to-end: the Arrow-UDF batching, broadcast model
# distribution, vectorized LM lookups, and the distributed percentile/
# broadcast-join tercile machinery.  Same trust pattern as the IVF oracle
# (ann_ivf_topk): inputs baked from separately golden-tested components,
# mechanism re-derived in SQL.
_PPL_BAKE_CACHE: dict[str, str] = {}


def _perplexity_oracle_base(sf_dir: str) -> str | None:
    """Shared CTE block (dl/dg/lm/lp/doc_ppl/scored) for both perplexity
    oracles, baked once per sf_dir."""
    import os

    if sf_dir in _PPL_BAKE_CACHE:
        return _PPL_BAKE_CACHE[sf_dir]
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        return None
    import duckdb
    import numpy as np
    import pandas as pd

    from .models.factory import load_default_model
    from .operators.detector import _batch_keys, annotate_batch
    from .operators.udfs import _seeds_for

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).df()
    m = load_default_model()
    urls = pd.Series([f"doc://{d}" for d in docs.doc_id])
    langs, _confs, _ppl = annotate_batch(
        m, list(docs.text), _seeds_for(urls, docs.text, 0)
    )
    keys_list = _batch_keys(list(docs.text), 10000)
    k3min, prefix_mask = 1 << 34, (1 << 34) - 1
    lang_idx = {l: i for i, l in enumerate(m.langs)}
    doc_rows, gram_rows, lm_pairs = [], [], {}
    for i, d in enumerate(docs.doc_id):
        lg = langs[i]
        doc_rows.append((int(d), lg))
        li = lang_idx.get(lg, -1)
        if li < 0:
            continue
        keys = keys_list[i]
        k3 = keys[keys >= k3min]
        if k3.size == 0:
            continue
        uk, n = np.unique(k3, return_counts=True)
        r3 = m.lookup_rows(uk)
        r2 = m.lookup_rows(uk & prefix_mask)
        c3 = np.where(r3 >= 0, m.counts_at(np.maximum(r3, 0), li), 0)
        c2 = np.where(r2 >= 0, m.counts_at(np.maximum(r2, 0), li), 0)
        for k, nn, a, b in zip(uk, n, c3, c2):
            gram_rows.append((int(d), int(k), int(nn)))
            lm_pairs[(int(k), lg)] = (int(a), int(b))
    dl = ", ".join(f"({d},'{l}')" for d, l in doc_rows)
    dg = ", ".join(f"({d},{k},{n})" for d, k, n in gram_rows)
    lm = ", ".join(
        f"({k},'{l}',{a},{b})" for (k, l), (a, b) in lm_pairs.items()
    )
    base = f"""
WITH dl(doc_id, lang_pred) AS (VALUES {dl}),
dg(doc_id, k3, n) AS (VALUES {dg}),
lm(k3, lang, c3, c2) AS (VALUES {lm}),
lp AS (
  SELECT dg.doc_id, dg.n,
         ln(lm.c3 + 0.1::DOUBLE) - ln(lm.c2 + 0.1::DOUBLE * {int(m.keys.size)})
           AS logp
  FROM dg JOIN dl USING (doc_id)
          JOIN lm ON dg.k3 = lm.k3 AND dl.lang_pred = lm.lang
),
doc_ppl AS (
  SELECT doc_id, exp(-(sum(n * logp) / sum(n))) AS rawppl
  FROM lp GROUP BY doc_id
),
scored AS (
  SELECT dl.doc_id, dl.lang_pred, round(doc_ppl.rawppl, 4) AS ppl
  FROM dl LEFT JOIN doc_ppl USING (doc_id)
)
"""
    _PPL_BAKE_CACHE[sf_dir] = base
    return base


def _perplexity_stats_oracle_sql(sf_dir: str | None = None) -> str | None:
    base = _perplexity_oracle_base(_oracle_sf_dir(sf_dir))
    if base is None:
        return None
    return base + """
SELECT dl.lang_pred::VARCHAR AS lang_pred, count(*)::BIGINT AS n,
       round(avg(doc_ppl.rawppl), 4)::DOUBLE AS avg_ppl
FROM dl LEFT JOIN doc_ppl USING (doc_id)
GROUP BY dl.lang_pred ORDER BY lang_pred
"""


def _perplexity_terciles_oracle_sql(sf_dir: str | None = None) -> str | None:
    base = _perplexity_oracle_base(_oracle_sf_dir(sf_dir))
    if base is None:
        return None
    return base + """
, cuts AS (
  SELECT lang_pred, round(quantile_cont(ppl, 1.0/3.0), 4) AS c1,
         round(quantile_cont(ppl, 2.0/3.0), 4) AS c2
  FROM scored GROUP BY lang_pred
)
SELECT s.doc_id::BIGINT AS doc_id, s.lang_pred::VARCHAR AS lang_pred,
       s.ppl::DOUBLE AS ppl,
       (CASE WHEN s.ppl <= c.c1 THEN 'head'
             WHEN s.ppl <= c.c2 THEN 'middle'
             ELSE 'tail' END)::VARCHAR AS tercile
FROM scored s JOIN cuts c USING (lang_pred) ORDER BY s.doc_id
"""


@register("perplexity_terciles", _perplexity_terciles_oracle_sql)
def q_perplexity_terciles(spark, sf_dir):
    """CCNet's actual mechanism (Wenzek et al. 2020): split each detected
    language's documents into head/middle/tail by LM PERPLEXITY tercile
    (lower ppl = head).  Oracled by the literal-baked DuckDB re-derivation
    above (smoothing + perplexity + quantile_cont cuts recomputed in SQL
    from baked gram counts); the tercile mechanics are ALSO independently
    oracle-verified on the SQL-expressible score by `quality_terciles`."""
    from .models.factory import load_default_model
    from .operators.udfs import make_annotate_udf
    from .plans.caching import persist_tracked
    from .plans.repartition import parallelize_scan

    model = load_default_model()
    docs = parallelize_scan(_docs(spark, sf_dir)).withColumn(
        "url", F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    )
    ann = make_annotate_udf(model, spark)("url", "text")
    # persist + EAGER materialize: `scored` feeds BOTH the tercile-cut
    # aggregation and the final join.  Lazy persist alone is not enough —
    # the broadcast-exchange thread launches the cuts job CONCURRENTLY
    # with the probe-side job, both find the cache unmaterialized, and
    # the annotate UDF (detector + LM pass, the query's entire cost)
    # executes twice anyway.  The count() forces one UDF pass; the
    # cached (doc_id, lang, ppl) intermediate is 3 narrow columns, tiny
    # at any scale.
    scored = persist_tracked(
        docs.withColumn("_a", ann).select(
            "doc_id",
            F.col("_a.lang").alias("lang_pred"),
            F.round(F.col("_a.ppl"), 4).alias("ppl"),
        )
    )
    scored.count()
    cuts = scored.groupBy("lang_pred").agg(
        F.round(F.percentile("ppl", F.lit(1.0 / 3.0)), 4).alias("_c1"),
        F.round(F.percentile("ppl", F.lit(2.0 / 3.0)), 4).alias("_c2"),
    )
    lab = (
        F.when(F.col("ppl") <= F.col("_c1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("_c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(cuts), "lang_pred")
        .select("doc_id", "lang_pred", "ppl", lab.alias("tercile"))
        .orderBy("doc_id")
    )


@register("perplexity_stats", _perplexity_stats_oracle_sql)
def q_perplexity(spark, sf_dir):
    """Q2: char-trigram perplexity distribution per detected language.
    Oracled by the literal-baked DuckDB re-derivation above."""
    from .models.factory import load_default_model
    from .operators.udfs import make_annotate_udf

    from .plans.repartition import parallelize_scan

    model = load_default_model()
    docs = parallelize_scan(_docs(spark, sf_dir)).withColumn(
        "url", F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    )
    ann = make_annotate_udf(model, spark)("url", "text")
    return (
        docs.withColumn("_a", ann)
        .select(F.col("_a.lang").alias("lang_pred"), F.col("_a.ppl").alias("ppl"))
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("ppl"), 4).alias("avg_ppl"),
        )
        .orderBy("lang_pred")
    )


# SemDeDup-style semantic dedup (Abbas et al. 2023): cluster-partitioned
# pairwise cosine with a canonical-min-id keep rule.  Lazy oracle, same
# trust pattern as ann_ivf_topk: bake the deterministic k-means centroids
# as literals, re-derive assignment (dot-product argmax — per-row
# normalization cannot change the order), the within-cluster pairwise
# cosine, and the keep rule independently in DuckDB.
_SEMDEDUP_PARAMS = dict(n_centroids=8, threshold=0.35, sample_n=256, seed=5)


def _semantic_dedup_oracle_sql(sf_dir: str | None = None) -> str | None:
    import os

    import duckdb
    import numpy as np

    from .operators.similarity import kmeans_fit

    sf_dir = _oracle_sf_dir(sf_dir)
    if not os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
        return None
    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {_SEMDEDUP_PARAMS['sample_n']}"
    ).fetchall()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    C = kmeans_fit(X, _SEMDEDUP_PARAMS["n_centroids"],
                   seed=_SEMDEDUP_PARAMS["seed"])
    lits = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in c) + "]" for c in C
    )
    k = _SEMDEDUP_PARAMS["n_centroids"]
    tau = _SEMDEDUP_PARAMS["threshold"]
    return f"""
WITH eb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cd AS (
  SELECT vec_id, v, i AS c,
         list_dot_product(v, [{lits}][i + 1]) AS d
  FROM eb CROSS JOIN (SELECT unnest(range(0, {k})) AS i) ci
),
ranked AS (
  SELECT vec_id, v, c,
         row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, c) AS r
  FROM cd
),
base AS (SELECT vec_id, v, c FROM ranked WHERE r = 1),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM base a JOIN base b ON a.c = b.c AND b.vec_id < a.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= {tau}
)
SELECT b.vec_id, b.c::INTEGER AS centroid, d.vec_id IS NULL AS keep
FROM base b LEFT JOIN dropped d ON b.vec_id = d.vec_id
ORDER BY b.vec_id
"""


@register("semantic_dedup", _semantic_dedup_oracle_sql)
def q_semantic_dedup(spark, sf_dir):
    from .operators.similarity import semantic_dedup
    from .plans.repartition import parallelize_scan

    emb = parallelize_scan(_emb(spark, sf_dir))
    out = semantic_dedup(
        emb,
        n_centroids=_SEMDEDUP_PARAMS["n_centroids"],
        threshold=_SEMDEDUP_PARAMS["threshold"],
        sample_n=_SEMDEDUP_PARAMS["sample_n"],
        seed=_SEMDEDUP_PARAMS["seed"],
    )
    return out.orderBy("vec_id")


# DSIR-style importance scoring (Xie et al. 2023): hashed {1,2}-gram
# bucket multinomials target-vs-raw, per-doc mean log-ratio, quantile
# selection.  Full static re-derivation: DuckDB rebuilds the same md5
# bucket stream, both smoothed distributions, the per-doc mean and the
# quantile_cont cut (== Spark F.percentile bitwise — see
# quality_terciles).  Both engines round the per-doc score to 6 BEFORE
# the cut so the boolean compares identical values.
_DSIR_B = 1024
_DSIR_ALPHA = 0.1
_DSIR_Q = 0.7
_DSIR_TARGETS = ("src0", "src1", "src2")

_DSIR_SQL = f"""
WITH tw AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS words,
         length(trim(text)) AS lt
  FROM documents
),
grams AS (
  SELECT doc_id, source,
    (CASE WHEN lt = 0 THEN []::BIGINT[]
          ELSE list_transform(words,
                 w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) END)
    ||
    (CASE WHEN lt = 0 OR len(words) < 2 THEN []::BIGINT[]
          ELSE list_transform(range(1, len(words)),
                 i -> ('0x' || substr(md5(
                        array_to_string(words[i : i + 1], ' ')
                      ), 1, 15))::BIGINT) END)
    AS gh
  FROM tw
),
fb AS (SELECT doc_id, source, unnest(gh) % {_DSIR_B} AS bucket FROM grams),
rc AS (
  SELECT bucket, count(*)::DOUBLE AS r,
         sum(CASE WHEN source IN {_DSIR_TARGETS!r}
             THEN 1 ELSE 0 END)::DOUBLE AS t
  FROM fb GROUP BY bucket
),
tot AS (SELECT sum(r) AS t_raw, sum(t) AS t_tgt FROM rc),
lr AS (
  SELECT bucket,
         (ln(t + {_DSIR_ALPHA}) - ln(tot.t_tgt + {_DSIR_ALPHA * _DSIR_B}))
       - (ln(r + {_DSIR_ALPHA}) - ln(tot.t_raw + {_DSIR_ALPHA * _DSIR_B}))
         AS lr
  FROM rc CROSS JOIN tot
),
scored AS (
  SELECT doc_id, count(*)::BIGINT AS n_feats,
         round(avg(lr.lr), 6) AS score
  FROM fb JOIN lr USING (bucket) GROUP BY doc_id
),
cut AS (SELECT quantile_cont(score, {_DSIR_Q}) AS cut FROM scored)
SELECT doc_id, n_feats, score, score > cut.cut AS selected
FROM scored CROSS JOIN cut
ORDER BY doc_id
"""


@register("dsir_scores", _DSIR_SQL)
def q_dsir_scores(spark, sf_dir):
    from .operators.text_analysis import dsir_scores
    from .plans.repartition import parallelize_scan

    return dsir_scores(
        parallelize_scan(_docs(spark, sf_dir)),
        target_sources=_DSIR_TARGETS,
        n_buckets=_DSIR_B,
        alpha=_DSIR_ALPHA,
        select_quantile=_DSIR_Q,
    ).orderBy("doc_id")


# Training-sequence packing (concat-and-chunk, hash-sharded): the whole
# mechanism — token counts, shard hash, per-shard running sum, integer-
# division sequence binning, slice geometry — re-derived in DuckDB.
_PACK_LEN = 256
_PACK_SHARDS = 8

_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id,
         (CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT
           AS n_tokens,
         (('0x'||substr(md5('pack:v1:'||doc_id::VARCHAR),1,15))::BIGINT
           % {_PACK_SHARDS})::INTEGER AS shard
  FROM documents
),
c AS (
  SELECT shard, doc_id, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
           AS tok_end
  FROM t WHERE n_tokens >= 1
),
s AS (
  SELECT shard, doc_id, n_tokens, tok_end - n_tokens AS tok_start, tok_end
  FROM c
),
e AS (
  SELECT shard, doc_id, n_tokens, tok_start, tok_end,
         unnest(range(tok_start // {_PACK_LEN},
                      (tok_end - 1) // {_PACK_LEN} + 1)) AS seq_id
  FROM s
)
SELECT shard, seq_id::BIGINT AS seq_id, doc_id,
       greatest(tok_start - seq_id * {_PACK_LEN}, 0)::INTEGER AS seq_start,
       least(tok_end - seq_id * {_PACK_LEN}, {_PACK_LEN})::INTEGER AS seq_end,
       greatest(seq_id * {_PACK_LEN} - tok_start, 0)::BIGINT AS doc_offset,
       n_tokens
FROM e
ORDER BY shard, seq_id, doc_id
"""


@register("packed_sequences", _PACK_SQL)
def q_packed_sequences(spark, sf_dir):
    from .operators.packing import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), seq_len=_PACK_LEN, n_shards=_PACK_SHARDS
    ).orderBy("shard", "seq_id", "doc_id")


# Language-mixture rebalancing: rates are CALIBRATED from the data
# (N* = the largest corpus with exact target shares), all in 64-bit
# integer arithmetic; the oracle re-derives counts, N*, the ppm rates,
# and every hash-Bernoulli keep decision.
_REBAL_TARGET = {"de": 150, "en": 400, "es": 150, "fr": 150, "zh": 150}

_REBAL_SQL = f"""
WITH tgt(lang, share_pm) AS (VALUES
  {", ".join(f"('{k}', {v})" for k, v in sorted(_REBAL_TARGET.items()))}),
cnt AS (SELECT lang, count(*)::BIGINT AS n_l FROM documents GROUP BY lang),
j AS (SELECT c.lang, n_l, share_pm FROM cnt c JOIN tgt USING (lang)),
ns AS (SELECT min(n_l * 1000 // share_pm) AS n_star FROM j),
r AS (
  SELECT lang,
         least(share_pm * ns.n_star * 1000 // n_l, 1000000)::BIGINT
           AS rate_ppm
  FROM j CROSS JOIN ns
),
b AS (
  SELECT d.doc_id, d.lang, r.rate_ppm,
         ('0x'||substr(md5('rebal:v1:'||d.doc_id::VARCHAR),1,15))::BIGINT
           % 1000000 AS sample_bucket
  FROM documents d JOIN r USING (lang)
)
SELECT doc_id, lang, rate_ppm, sample_bucket
FROM b WHERE sample_bucket < rate_ppm
ORDER BY doc_id
"""


@register("language_rebalance", _REBAL_SQL)
def q_language_rebalance(spark, sf_dir):
    from .operators.text_analysis import language_rebalance

    return language_rebalance(
        _docs(spark, sf_dir), target_permille=_REBAL_TARGET
    ).orderBy("doc_id")


# Distributed BPE-merge training: the oracle is an INDEPENDENT plain-
# Python implementation of the same published spec (dict/Counter based,
# no Spark, no shared code path with the fold-based distributed trainer)
# run on the same corpus and baked as literals.
_BPE_N_MERGES = 24


def _bpe_oracle_sql(sf_dir: str | None = None) -> str | None:
    import os

    import duckdb

    from .operators.tokenizer import train_bpe_local

    sf_dir = _oracle_sf_dir(sf_dir)
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    texts = [r[0] for r in
             duckdb.sql(f"SELECT text FROM '{path}'").fetchall()]
    merges = train_bpe_local(texts, n_merges=_BPE_N_MERGES)

    def esc(s: str) -> str:
        return s.replace("'", "''")

    vals = ", ".join(
        f"({rank}::INTEGER, '{esc(l)}', '{esc(r)}', {cnt}::BIGINT)"
        for rank, l, r, cnt in merges
    )
    return (
        "SELECT * FROM (VALUES "
        + vals
        + ") t(merge_rank, left_sym, right_sym, pair_count) "
        + "ORDER BY merge_rank"
    )


@register("bpe_merges", _bpe_oracle_sql)
def q_bpe_merges(spark, sf_dir):
    from .operators.tokenizer import bpe_merges_df, train_bpe_merges
    from .plans.repartition import parallelize_scan

    merges = train_bpe_merges(
        parallelize_scan(_docs(spark, sf_dir)), n_merges=_BPE_N_MERGES
    )
    return bpe_merges_df(spark, merges).orderBy("merge_rank")


# ExactSubstr dedup (Lee et al. 2022): duplicated k-token windows removed
# from all but their canonical first occurrence, overlapping windows
# merged to maximal spans, documents rebuilt.  The oracle re-derives the
# ENTIRE mechanism — sliding windows, corpus-wide duplicate decision,
# gaps-and-islands interval merge, token-level rebuild — in DuckDB.
_XSUB_K = 8

_XSUB_SQL = f"""
WITH tw AS (
  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                      ELSE string_split_regex(trim(text), '\\s+') END AS words
  FROM documents
),
occ AS (
  SELECT doc_id, i AS pos,
         array_to_string(words[i+1 : i+{_XSUB_K}], ' ') AS win
  FROM tw, unnest(range(0, greatest(len(words) - {_XSUB_K - 1}, 0))) AS t(i)
),
r AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY win) AS cnt,
         row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
  FROM occ
),
dup AS (SELECT doc_id, pos FROM r WHERE cnt > 1 AND rn > 1),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + {_XSUB_K}) OVER (PARTITION BY doc_id
                ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos >= max(pos + {_XSUB_K}) OVER (PARTITION BY doc_id
                ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM dup
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM brk
),
iv AS (SELECT doc_id, island, min(pos) AS s, max(pos) + {_XSUB_K} AS e
       FROM isl GROUP BY doc_id, island),
tok AS (SELECT doc_id, i - 1 AS idx, words[i] AS w
        FROM tw, unnest(range(1, len(words) + 1)) AS t(i)),
kept AS (
  SELECT t.doc_id, t.idx, t.w FROM tok t
  WHERE NOT EXISTS (SELECT 1 FROM iv
                    WHERE iv.doc_id = t.doc_id
                      AND t.idx >= iv.s AND t.idx < iv.e)
),
reb AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(w, ' ' ORDER BY idx) AS text_dedup
        FROM kept GROUP BY doc_id),
nw AS (SELECT doc_id, count(*) AS n_windows FROM occ GROUP BY doc_id),
nd AS (SELECT doc_id, count(*) AS n_dup FROM dup GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(nw.n_windows, 0)::BIGINT AS n_windows,
       coalesce(nd.n_dup, 0)::BIGINT AS n_dup_windows,
       (len(d.words) - coalesce(reb.n_kept, 0))::BIGINT AS n_tokens_removed,
       coalesce(reb.text_dedup, '') AS text_dedup
FROM tw d
LEFT JOIN nw USING (doc_id) LEFT JOIN nd USING (doc_id)
LEFT JOIN reb USING (doc_id)
ORDER BY d.doc_id
"""


@register("exact_substring_dedup", _XSUB_SQL)
def q_exact_substring_dedup(spark, sf_dir):
    from .operators.dedup import exact_substring_dedup

    return exact_substring_dedup(
        _docs(spark, sf_dir), k=_XSUB_K
    ).orderBy("doc_id")


# No-split FFD document packing: oracle is an INDEPENDENT plain-Python
# first-fit-decreasing implementation (hashlib md5 sharding, list-scan
# bins — no Spark, no shared code with the applyInPandas operator) baked
# as literals.
_FFD_LEN = 256
_FFD_SHARDS = 8


def _ffd_oracle_sql(sf_dir: str | None = None) -> str | None:
    import os

    import duckdb

    from .operators.packing import pack_documents_local

    sf_dir = _oracle_sf_dir(sf_dir)
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    rows = duckdb.sql(f"SELECT doc_id, text FROM '{path}'").fetchall()
    packed = pack_documents_local(
        rows, seq_len=_FFD_LEN, n_shards=_FFD_SHARDS
    )
    vals = ", ".join(
        f"({s}::INTEGER, {b}::BIGINT, {d}::BIGINT, {n}::BIGINT, {str(o).upper()})"
        for s, b, d, n, o in packed
    )
    return (
        "SELECT * FROM (VALUES "
        + vals
        + ") t(shard, bin_id, doc_id, n_tokens, oversize) "
        + "ORDER BY shard, bin_id, doc_id"
    )


@register("packed_documents", _ffd_oracle_sql)
def q_packed_documents(spark, sf_dir):
    from .operators.packing import pack_documents
    from .plans.repartition import parallelize_scan

    return pack_documents(
        parallelize_scan(_docs(spark, sf_dir)),
        seq_len=_FFD_LEN,
        n_shards=_FFD_SHARDS,
    ).orderBy("shard", "bin_id", "doc_id")


# RAG-style overlapping chunking: geometry is integer arithmetic on the
# token index — the oracle re-derives split, integer-ceil chunk count,
# slice bounds, and chunk text.
_CHUNK_T = 16
_CHUNK_S = 12

_CHUNK_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS words
  FROM documents
),
b AS (SELECT doc_id, words, len(words)::BIGINT AS n FROM t),
c AS (
  SELECT doc_id, words, n,
         CASE WHEN n < 1 THEN 0
              WHEN n <= {_CHUNK_T} THEN 1
              ELSE 1 + (n - {_CHUNK_T} + {_CHUNK_S - 1}) // {_CHUNK_S}
         END AS n_chunks
  FROM b
),
e AS (
  SELECT doc_id, words, n, i AS chunk_idx, i * {_CHUNK_S} AS tok_start
  FROM c, unnest(range(0, n_chunks)) AS u(i)
)
SELECT doc_id, chunk_idx::INTEGER AS chunk_idx,
       tok_start::BIGINT AS tok_start,
       least(n - tok_start, {_CHUNK_T})::INTEGER AS n_chunk_tokens,
       array_to_string(words[tok_start + 1 : tok_start + {_CHUNK_T}], ' ')
         AS chunk
FROM e ORDER BY doc_id, chunk_idx
"""


@register("text_chunks", _CHUNK_SQL)
def q_text_chunks(spark, sf_dir):
    from .operators.text_analysis import chunk_text

    return chunk_text(
        _docs(spark, sf_dir), chunk_tokens=_CHUNK_T, stride=_CHUNK_S
    ).orderBy("doc_id", "chunk_idx")


# Per-doc TF-IDF top-k terms: the ranking score is an INTEGER
# (tf · round(idf·10^6)) so the ordering is bit-identical across engines;
# the oracle re-derives tf, df, N, the micro-idf and the ranked top-k.
_TFIDF_K = 3

_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       FROM toks GROUP BY doc_id, term),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
nd AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_corpus FROM tf),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * (round((ln((nd.n_corpus + 1) / (dfq.df + 1)) + 1)
                        * 1000000))::BIGINT AS score_micro
  FROM tf JOIN dfq USING (term) CROSS JOIN nd
),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score_micro DESC, term) AS rank FROM sc)
SELECT doc_id, term, tf, score_micro, rank::INTEGER AS rank
FROM rk WHERE rank <= {_TFIDF_K} ORDER BY doc_id, rank
"""


@register("tfidf_top_terms", _TFIDF_SQL)
def q_tfidf_top_terms(spark, sf_dir):
    from .operators.text_analysis import tfidf_top_terms

    return tfidf_top_terms(
        _docs(spark, sf_dir), k=_TFIDF_K
    ).orderBy("doc_id", "rank")


# Bloom-filter membership dedup (Dolma-style): the store (doc_id%3!=0)
# builds a sharded Bloom filter; incoming docs (doc_id%3==0, half of them
# carrying an exact copy of their store neighbour's text) probe it.  The
# oracle re-derives the ENTIRE filter in SQL as a positions SET (same
# md5 double hashing) — so Spark's packed-bitmap answer must match the
# oracle bit-for-bit, deterministic false positives included.
_BLOOM_M = 4096   # bits per shard
_BLOOM_K = 3
_BLOOM_S = 8

_BLOOM_SQL = f"""
WITH store AS (
  SELECT DISTINCT text FROM documents WHERE doc_id % 3 <> 0
),
inc AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 2 = 0 THEN s.text ELSE d.text END AS text
  FROM documents d JOIN documents s ON s.doc_id = d.doc_id + 1
  WHERE d.doc_id % 3 = 0
),
sh AS (
  SELECT ('0x'||substr(md5(text),1,15))::BIGINT AS h1,
         ('0x'||substr(md5(text),17,15))::BIGINT AS h2
  FROM store
),
pos AS (
  SELECT DISTINCT (h2 % {_BLOOM_S})::INTEGER AS shard,
         ((h1 % {_BLOOM_M}) + i * (h2 % {_BLOOM_M})) % {_BLOOM_M} AS pos
  FROM sh, (SELECT unnest(range(0, {_BLOOM_K})) AS i) r
),
ih AS (
  SELECT doc_id, text,
         ('0x'||substr(md5(text),1,15))::BIGINT AS h1,
         ('0x'||substr(md5(text),17,15))::BIGINT AS h2
  FROM inc
),
ip AS (
  SELECT doc_id, (h2 % {_BLOOM_S})::INTEGER AS shard,
         ((h1 % {_BLOOM_M}) + i * (h2 % {_BLOOM_M})) % {_BLOOM_M} AS pos
  FROM ih, (SELECT unnest(range(0, {_BLOOM_K})) AS i) r
),
chk AS (
  SELECT ip.doc_id, bool_and(pos.pos IS NOT NULL) AS possibly_seen
  FROM ip LEFT JOIN pos USING (shard, pos) GROUP BY ip.doc_id
)
SELECT ih.doc_id, chk.possibly_seen,
       (ih.text IN (SELECT text FROM store)) AS exact_seen
FROM ih JOIN chk USING (doc_id)
ORDER BY doc_id
"""


@register("bloom_dedup", _BLOOM_SQL)
def q_bloom_dedup(spark, sf_dir):
    from .operators.dedup import bloom_probe, build_bloom_filter

    docs = _docs(spark, sf_dir)
    store = docs.filter(F.col("doc_id") % 3 != 0)
    nbr = docs.select(
        F.col("doc_id").alias("_nid"), F.col("text").alias("_ntext")
    )
    inc = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .join(nbr, F.col("_nid") == F.col("doc_id") + 1)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 2 == 0, F.col("_ntext"))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    bloom = build_bloom_filter(
        store, "text", m_bits=_BLOOM_M, k_hashes=_BLOOM_K, n_shards=_BLOOM_S
    )
    probed = bloom_probe(
        inc, bloom, "text",
        m_bits=_BLOOM_M, k_hashes=_BLOOM_K, n_shards=_BLOOM_S,
    )
    exact = store.select("text").distinct().withColumn(
        "exact_seen", F.lit(True)
    )
    return (
        probed.join(F.broadcast(exact), "text", "left")
        .select(
            "doc_id",
            "possibly_seen",
            F.coalesce("exact_seen", F.lit(False)).alias("exact_seen"),
        )
        .orderBy("doc_id")
    )


# Per-document BPE token accounting under the corpus-trained merge table
# (token-budget pass feeding packing/mixture math).  Oracle: an
# INDEPENDENT local implementation — plain-Python BPE training + greedy
# word encode (tokenizer.train_bpe_local / encode_word_local, no Spark,
# no shared code with the JVM folds) over DuckDB-tokenized word lists —
# baked as per-doc literals.
def _bpe_encode_oracle_sql(sf_dir: str | None = None) -> str | None:
    import os

    import duckdb

    from .operators.tokenizer import encode_word_local, train_bpe_local

    sf_dir = _oracle_sf_dir(sf_dir)
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    rows = duckdb.sql(
        f"""
        SELECT doc_id, length(text),
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE string_split_regex(trim(text), '\\s+') END
        FROM '{path}'
        """
    ).fetchall()
    texts = [r[0] for r in
             duckdb.sql(f"SELECT text FROM '{path}'").fetchall()]
    merges = train_bpe_local(texts, n_merges=_BPE_N_MERGES)
    cache: dict[str, int] = {}

    def ntok(w: str) -> int:
        if w not in cache:
            cache[w] = len(encode_word_local(w, merges))
        return cache[w]

    vals = ", ".join(
        f"({did}::BIGINT, {len(words)}::BIGINT, "
        f"{sum(ntok(w) for w in words)}::BIGINT, {nchars}::BIGINT)"
        for did, nchars, words in rows
    )
    return (
        "SELECT * FROM (VALUES "
        + vals
        + ") t(doc_id, n_words, n_bpe_tokens, n_chars) ORDER BY doc_id"
    )


@register("bpe_token_stats", _bpe_encode_oracle_sql)
def q_bpe_token_stats(spark, sf_dir):
    from .operators.tokenizer import bpe_token_stats, train_bpe_merges

    docs = _docs(spark, sf_dir)
    merges = train_bpe_merges(docs, n_merges=_BPE_N_MERGES)
    return bpe_token_stats(docs, merges).orderBy("doc_id")


# Model-based quality filter: multinomial Naive Bayes log-odds over word
# tokens, bootstrapped from a curated seed (lang='en' plays the GPT-3
# curated-vs-crawl role — vocabulary-separable, so the model genuinely
# learns; deterministic classical variant).  Integer micro-quantized
# weights → per-doc scores are exact BIGINT sums; the oracle re-derives
# the WHOLE training + scoring pass (counts, smoothing, llr, unseen and
# prior weights) in SQL.
_NBQ_SQL = """
WITH lab AS (
  SELECT doc_id, text, (lang = 'en') AS label_seed
  FROM documents
),
toks AS (
  SELECT doc_id, label_seed,
         unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM lab WHERE length(trim(text)) > 0
),
counts AS (
  SELECT word,
         sum(CASE WHEN label_seed THEN 1 ELSE 0 END)::BIGINT AS n_pos,
         sum(CASE WHEN label_seed THEN 0 ELSE 1 END)::BIGINT AS n_neg
  FROM toks GROUP BY word
),
tot AS (
  SELECT sum(n_pos)::BIGINT AS total_pos, sum(n_neg)::BIGINT AS total_neg,
         count(*)::BIGINT AS vocab
  FROM counts
),
dc AS (
  SELECT sum(CASE WHEN label_seed THEN 1 ELSE 0 END)::BIGINT AS docs_pos,
         count(*)::BIGINT AS docs_all
  FROM lab
),
model AS (
  SELECT word,
         round((ln((n_pos + 1) / (total_pos + vocab))
              - ln((n_neg + 1) / (total_neg + vocab))) * 1000000)::BIGINT
           AS llr_micro
  FROM counts CROSS JOIN tot
),
consts AS (
  SELECT round((ln(1.0 / (total_pos + vocab))
              - ln(1.0 / (total_neg + vocab))) * 1000000)::BIGINT
           AS unseen_micro,
         round((ln(docs_pos / docs_all::DOUBLE)
              - ln((docs_all - docs_pos) / docs_all::DOUBLE))
               * 1000000)::BIGINT AS prior_micro
  FROM tot CROSS JOIN dc
),
sc AS (
  SELECT t.doc_id, count(*)::BIGINT AS n_words,
         (sum(coalesce(m.llr_micro, c.unseen_micro))
          + any_value(c.prior_micro))::BIGINT AS score_micro
  FROM toks t LEFT JOIN model m USING (word) CROSS JOIN consts c
  GROUP BY t.doc_id
)
SELECT l.doc_id, l.label_seed,
       coalesce(s.n_words, 0)::BIGINT AS n_words,
       coalesce(s.score_micro, c.prior_micro)::BIGINT AS score_micro,
       (coalesce(s.score_micro, c.prior_micro) > 0) AS predicted_keep
FROM lab l LEFT JOIN sc s USING (doc_id) CROSS JOIN consts c
ORDER BY l.doc_id
"""


# C4 line-level page filter (Raffel et al. 2020 §2.2).  The flat
# one-line fixture text is deterministically rebuilt into a
# line-structured page exercising every rule (terminal punctuation,
# min-words, javascript lines, lorem-ipsum / curly-brace page drops) —
# both engines perform the identical construction from (doc_id, text),
# same pattern as canonical_url_dups.
_C4_LINES_SQL = r"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
  FROM documents
),
built AS (
  SELECT doc_id,
         array_to_string(
           list_transform(
             range(0, greatest(cast(ceil(len(words) / 5.0) AS INT), 1)),
             i -> CASE (doc_id + i) % 7
               WHEN 0 THEN array_to_string(words[i*5+1:i*5+5], ' ') || '.'
               WHEN 1 THEN array_to_string(words[i*5+1:i*5+5], ' ') || '!'
               WHEN 2 THEN array_to_string(words[i*5+1:i*5+5], ' ') || '?'
               WHEN 3 THEN array_to_string(words[i*5+1:i*5+5], ' ')
               WHEN 4 THEN 'Please enable javascript to view the '
                           || array_to_string(words[i*5+1:i*5+5], ' ') || '.'
               WHEN 5 THEN array_to_string(words[i*5+1:i*5+2], ' ') || '.'
               ELSE upper(array_to_string(words[i*5+1:i*5+5], ' ')) || '.'
             END),
           chr(10))
         || CASE WHEN doc_id % 31 = 0
                 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
         || CASE WHEN doc_id % 37 = 0
                 THEN chr(10) || 'function() { return 0; }' ELSE '' END
           AS text
  FROM base
),
f AS (
  SELECT doc_id, text,
         string_split(text, chr(10)) AS lines,
         list_filter(string_split(text, chr(10)),
                     l -> right(l, 1) IN ('.', '!', '?', '"')
                          AND len(string_split(l, ' ')) >= 3
                          AND NOT contains(lower(l), 'javascript')) AS kept
  FROM built
)
SELECT doc_id,
       len(lines)::INTEGER AS n_lines,
       len(kept)::INTEGER AS n_kept_lines,
       (NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(text, '{')
        AND len(kept) >= 3) AS keep_page,
       coalesce(array_to_string(kept, chr(10)), '') AS filtered_text
FROM f
ORDER BY doc_id
"""


@register("c4_line_filter", _C4_LINES_SQL)
def q_c4_line_filter(spark, sf_dir):
    """C4-style line filtering over deterministically line-structured
    pages; full SQL re-derivation (construction + per-line predicate +
    page-level drops)."""
    from .operators.line_filter import c4_line_filter, synth_page_lines

    pages = synth_page_lines(_docs(spark, sf_dir))
    return c4_line_filter(pages).orderBy("doc_id")


# WARC/WET round trip: each document is encoded into a real two-record
# WARC stream (warcinfo + conversion), odd doc_ids as per-record gzip
# members (the CommonCrawl layout), then parsed back by the WARC source
# parser.  The oracle states the fixture directly — any encoder/parser
# disagreement (lengths, header walk, gzip framing, payload bytes)
# surfaces as a value mismatch.
_WARC_SQL = """
SELECT doc_id,
       'http://example.com/doc/' || doc_id AS url,
       'conversion' AS warc_type,
       length(text)::INTEGER AS content_length,
       text
FROM documents
ORDER BY doc_id
"""


@register("warc_roundtrip_docs", _WARC_SQL)
def q_warc_roundtrip_docs(spark, sf_dir):
    """WARC encode→parse round trip over the documents table (the WET
    ingestion path of sources/warc.py, exercised end-to-end)."""
    import pandas as pd

    from .sources.warc import encode_warc, gzip_members, parse_warc_bytes

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def _roundtrip(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                url = f"http://example.com/doc/{doc_id}"
                blob = encode_warc(
                    [
                        ("warcinfo", None, b"engine: language_detection_spark"),
                        ("conversion", url, text),
                    ]
                )
                if doc_id % 2 == 1:
                    blob = gzip_members(blob)
                recs = [
                    r
                    for r in parse_warc_bytes(blob)
                    if r["warc_type"] == "conversion"
                ]
                (r,) = recs
                out.append(
                    (
                        r["url"],
                        r["warc_type"],
                        r["content_length"],
                        r["payload"].decode("utf-8"),
                    )
                )
            yield pd.DataFrame(
                out, columns=["url", "warc_type", "content_length", "text"]
            )

    parsed = docs.mapInPandas(
        _roundtrip,
        "url string, warc_type string, content_length int, text string",
    )
    return parsed.select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("bigint").alias("doc_id"),
        "url",
        "warc_type",
        "content_length",
        "text",
    ).orderBy("doc_id")


@register("nb_quality_scores", _NBQ_SQL)
def q_nb_quality_scores(spark, sf_dir):
    """NB quality classifier, trained and scored in one pass.  NOTE: the
    synthetic corpus draws every language from one shared 31-word
    vocabulary, so train agreement here is necessarily ~chance — the
    contract gates the exact count/smoothing/llr math; genuine
    separation on a separable corpus is pinned in
    tests/test_quality_model.py."""
    from .operators.quality_model import nb_quality_scores

    return nb_quality_scores(
        _docs(spark, sf_dir), seed=F.col("lang") == "en"
    ).orderBy("doc_id")


# RefinedWeb-style URL filtering (Penedo et al. 2023 §3.1): blocklist
# domains + presence-weighted keyword score over the URL string +
# non-text resource extensions.  The crawl-shaped URL fixture is
# deterministically rebuilt from doc_id by BOTH engines (same pattern
# as canonical_url_dups); the oracle re-derives the full rule chain —
# host/eTLD+1 parse, blocklist membership, every keyword weight, every
# extension — so any drift in the gate surfaces as a value mismatch.
_URL_FILTER_SQL = r"""
WITH u AS (
  SELECT doc_id,
    'https://' ||
    CASE doc_id % 7
      WHEN 0 THEN 'www.news-' || (doc_id % 23)::VARCHAR
      WHEN 1 THEN 'blog-' || (doc_id % 23)::VARCHAR
      WHEN 2 THEN 'casino-' || (doc_id % 23)::VARCHAR
      WHEN 3 THEN 'spam-mill'
      WHEN 4 THEN 'shop-' || (doc_id % 23)::VARCHAR
      WHEN 5 THEN 'm.clickfarm'
      ELSE 'forum-' || (doc_id % 23)::VARCHAR
    END || '.' ||
    CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END ||
    CASE doc_id % 6
      WHEN 0 THEN '/articles/' || (doc_id % 23)::VARCHAR
      WHEN 1 THEN '/poker/review'
      WHEN 2 THEN '/assets/logo.png'
      WHEN 3 THEN '/download/setup.exe'
      WHEN 4 THEN '/docs/' || (doc_id % 23)::VARCHAR
      ELSE '/xxx/gallery'
    END ||
    CASE doc_id % 5
      WHEN 0 THEN '?ref=lottery&page=2'
      WHEN 1 THEN '?utm_source=dating-pharmacy'
      ELSE ''
    END AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1))
      AS host,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
      AS path
  FROM u
),
dom AS (
  SELECT *,
    CASE WHEN len(string_split(host, '.')) <= 2 THEN host
         ELSE string_split(host, '.')[len(string_split(host, '.')) - 1]
              || '.' || string_split(host, '.')[len(string_split(host, '.'))]
    END AS registered_domain
  FROM parts
),
scored AS (
  SELECT *,
    (CASE WHEN contains(lower(url), 'betting') THEN 500 ELSE 0 END
     + CASE WHEN contains(lower(url), 'casino') THEN 500 ELSE 0 END
     + CASE WHEN contains(lower(url), 'dating') THEN 330 ELSE 0 END
     + CASE WHEN contains(lower(url), 'escort') THEN 1000 ELSE 0 END
     + CASE WHEN contains(lower(url), 'lottery') THEN 500 ELSE 0 END
     + CASE WHEN contains(lower(url), 'pharmacy') THEN 330 ELSE 0 END
     + CASE WHEN contains(lower(url), 'poker') THEN 500 ELSE 0 END
     + CASE WHEN contains(lower(url), 'porn') THEN 1000 ELSE 0 END
     + CASE WHEN contains(lower(url), 'torrent') THEN 500 ELSE 0 END
     + CASE WHEN contains(lower(url), 'viagra') THEN 1000 ELSE 0 END
     + CASE WHEN contains(lower(url), 'webcam') THEN 500 ELSE 0 END
     + CASE WHEN contains(lower(url), 'xxx') THEN 1000 ELSE 0 END
    )::BIGINT AS url_score_milli,
    (ends_with(lower(path), '.css') OR ends_with(lower(path), '.js')
     OR ends_with(lower(path), '.png') OR ends_with(lower(path), '.jpg')
     OR ends_with(lower(path), '.jpeg') OR ends_with(lower(path), '.gif')
     OR ends_with(lower(path), '.ico') OR ends_with(lower(path), '.svg')
     OR ends_with(lower(path), '.exe') OR ends_with(lower(path), '.zip')
     OR ends_with(lower(path), '.gz') OR ends_with(lower(path), '.tar')
     OR ends_with(lower(path), '.mp3') OR ends_with(lower(path), '.mp4')
     OR ends_with(lower(path), '.woff') OR ends_with(lower(path), '.ttf')
    ) AS resource_url,
    registered_domain IN ('spam-mill.com', 'spam-mill.org', 'spam-mill.net',
                          'clickfarm.com', 'clickfarm.org', 'clickfarm.net')
      AS blocked_domain
  FROM dom
)
SELECT doc_id, url, host, registered_domain, blocked_domain, resource_url,
       url_score_milli,
       (NOT blocked_domain AND NOT resource_url
        AND url_score_milli < 1000) AS keep_url
FROM scored
ORDER BY doc_id
"""


@register("url_filtered_docs", _URL_FILTER_SQL)
def q_url_filtered_docs(spark, sf_dir):
    """RefinedWeb-style URL gate over crawl-shaped fixture URLs: domain
    blocklist (broadcast dim join), presence-weighted keyword score,
    resource-extension rejection — named reason columns + keep_url."""
    from .operators.url_filter import (
        synth_blocklist,
        synth_crawl_urls,
        url_filter,
    )

    urls = synth_crawl_urls(_docs(spark, sf_dir))
    return url_filter(urls, blocklist=synth_blocklist(spark)).orderBy(
        "doc_id"
    )


# Stupid-backoff word-trigram LM scoring (Brants et al. 2007; the
# CCNet-style LM quality signal at word level).  The LM trains on the
# deterministic doc_id%5==0 split and scores every document; the oracle
# re-derives EVERYTHING — padding, the single trigram-position pass,
# all three count tables, the backoff case ladder, the micro
# quantization — so both engines produce exact BIGINT per-document
# sums.
_WORD_LM_SQL = r"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS ws
  FROM documents
),
padded AS (
  SELECT doc_id, list_concat(['<s>', '<s>'], ws) AS w FROM base
),
pos AS (
  SELECT doc_id, w[i-2] AS w1, w[i-1] AS w2, w[i] AS w3
  FROM padded, unnest(generate_series(3, len(w))) AS t(i)
),
train_pos AS (SELECT * FROM pos WHERE doc_id % 5 = 0),
tri AS (
  SELECT w1, w2, w3, count(*)::BIGINT AS c3 FROM train_pos GROUP BY 1, 2, 3
),
bi AS (
  SELECT w1, w2, count(*)::BIGINT AS c2 FROM (
    SELECT w2 AS w1, w3 AS w2 FROM train_pos
    UNION ALL SELECT '<s>', '<s>' FROM padded WHERE doc_id % 5 = 0
  ) GROUP BY 1, 2
),
uni AS (
  SELECT w, count(*)::BIGINT AS c1 FROM (
    SELECT w3 AS w FROM train_pos
    UNION ALL SELECT '<s>' FROM padded WHERE doc_id % 5 = 0
    UNION ALL SELECT '<s>' FROM padded WHERE doc_id % 5 = 0
  ) GROUP BY 1
),
consts AS (
  SELECT sum(CASE WHEN w = '<s>' THEN 0 ELSE c1 END)::BIGINT AS n_tokens
  FROM uni
),
sc AS (
  SELECT p.doc_id,
    round(CASE
      WHEN t.c3 IS NOT NULL THEN ln(t.c3 / bc.c2)
      WHEN be.c2 IS NOT NULL THEN ln(0.4) + ln(be.c2 / uc.c1)
      WHEN ue.c1 IS NOT NULL THEN 2 * ln(0.4) + ln(ue.c1 / c.n_tokens)
      ELSE 2 * ln(0.4) - ln(c.n_tokens + 1)
    END * 1000000)::BIGINT AS micro,
    CASE WHEN ue.c1 IS NULL THEN 1 ELSE 0 END AS oov
  FROM pos p
  LEFT JOIN tri t USING (w1, w2, w3)
  LEFT JOIN bi bc ON bc.w1 = p.w1 AND bc.w2 = p.w2
  LEFT JOIN bi be ON be.w1 = p.w2 AND be.w2 = p.w3
  LEFT JOIN uni uc ON uc.w = p.w2
  LEFT JOIN uni ue ON ue.w = p.w3
  CROSS JOIN consts c
),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_scored, sum(oov)::BIGINT AS oov_tokens,
         sum(micro)::BIGINT AS lm_logprob_micro
  FROM sc GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_scored, 0)::BIGINT AS n_scored,
       coalesce(a.oov_tokens, 0)::BIGINT AS oov_tokens,
       coalesce(a.lm_logprob_micro, 0)::BIGINT AS lm_logprob_micro
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
"""


@register("word_lm_scores", _WORD_LM_SQL)
def q_word_lm_scores(spark, sf_dir):
    """Stupid-backoff word-trigram LM: train on the doc_id%5==0 split,
    score every document with exact micro-quantized BIGINT log sums."""
    from .operators.word_lm import stupid_backoff_scores

    docs = _docs(spark, sf_dir)
    return stupid_backoff_scores(
        docs, train=docs.where(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    ).orderBy("doc_id")


# Web link-graph analytics.  The link-bearing html fixture is
# deterministically rebuilt from doc_id by BOTH engines (decoy
# plain-text URL + relative href that extraction must skip; m./www.
# subdomains that eTLD+1 folding must merge; 'hub' domains that never
# appear as sources -> dangling PageRank mass).  The stats oracle
# re-derives extraction + degree aggregation; the PageRank oracle
# re-derives all 8 integer-exact iterations, unrolled.
_LINK_FIXTURE_SQL = r"""
WITH pages AS (
  SELECT doc_id,
    'https://www.site-' || (doc_id % 13)::VARCHAR || '.com/p/'
      || (doc_id % 40)::VARCHAR AS url,
    '<html><body><a href="/local">rel</a><p>see https://decoy-7.com/x in text</p>'
    || '<a href="https://site-' || ((doc_id * 3 + 1) % 13)::VARCHAR
    || '.com/p/' || (doc_id % 40)::VARCHAR
    || '">a</a><a href="https://m.site-' || ((doc_id * 5 + 2) % 13)::VARCHAR
    || '.com/q/' || (doc_id % 40)::VARCHAR
    || '">b</a><a href="https://hub-' || (doc_id % 3)::VARCHAR
    || '.net/">h</a></body></html>' AS html
  FROM documents
),
links AS (
  SELECT url AS src_url,
         unnest(regexp_extract_all(html, 'href="(https?://[^"]+)"', 1))
           AS dst_url
  FROM pages
),
hosts AS (
  SELECT src_url, dst_url,
    lower(regexp_extract(src_url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1))
      AS sh,
    lower(regexp_extract(dst_url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1))
      AS dh
  FROM links
),
doms AS (
  SELECT src_url, dst_url,
    CASE WHEN len(string_split(sh, '.')) <= 2 THEN sh
         ELSE string_split(sh, '.')[len(string_split(sh, '.')) - 1] || '.'
              || string_split(sh, '.')[len(string_split(sh, '.'))]
    END AS src_domain,
    CASE WHEN len(string_split(dh, '.')) <= 2 THEN dh
         ELSE string_split(dh, '.')[len(string_split(dh, '.')) - 1] || '.'
              || string_split(dh, '.')[len(string_split(dh, '.'))]
    END AS dst_domain
  FROM hosts
)
"""

_LINK_STATS_SQL = _LINK_FIXTURE_SQL + r"""
, o AS (
  SELECT src_domain AS domain, count(*)::BIGINT AS out_links,
         count(DISTINCT dst_domain)::BIGINT AS out_domains
  FROM doms GROUP BY 1
),
i AS (
  SELECT dst_domain AS domain, count(*)::BIGINT AS in_links,
         count(DISTINCT src_domain)::BIGINT AS in_domains
  FROM doms GROUP BY 1
)
SELECT coalesce(o.domain, i.domain) AS domain,
       coalesce(o.out_links, 0)::BIGINT AS out_links,
       coalesce(i.in_links, 0)::BIGINT AS in_links,
       coalesce(o.out_domains, 0)::BIGINT AS out_domains,
       coalesce(i.in_domains, 0)::BIGINT AS in_domains
FROM o FULL OUTER JOIN i ON o.domain = i.domain
ORDER BY domain
"""

_PR_PRELUDE = _LINK_FIXTURE_SQL + r"""
, edges AS (SELECT DISTINCT src_domain AS src, dst_domain AS dst FROM doms),
nodes AS (
  SELECT src AS domain FROM edges UNION SELECT dst AS domain FROM edges
),
cnt AS (SELECT count(*)::BIGINT AS n FROM nodes),
outdeg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
r0 AS (
  SELECT domain, (1000000000000 // c.n)::BIGINT AS rank_pico
  FROM nodes CROSS JOIN cnt c
)
"""

_PR_ITER_SQL = r"""
, r{k} AS (
  SELECT n.domain,
         (((3 * (1000000000000 // c.n)) // 20)
          + (17 * (coalesce(ct.contrib, 0) + (d.mass // c.n))) // 20
         )::BIGINT AS rank_pico
  FROM nodes n
  CROSS JOIN cnt c
  LEFT JOIN (
    SELECT e.dst AS domain,
           sum(r{p}.rank_pico // od.deg)::BIGINT AS contrib
    FROM edges e
    JOIN r{p} ON e.src = r{p}.domain
    JOIN outdeg od ON od.src = e.src
    GROUP BY e.dst
  ) ct ON ct.domain = n.domain
  CROSS JOIN (
    SELECT coalesce(sum(r{p}.rank_pico), 0)::BIGINT AS mass
    FROM r{p} LEFT JOIN outdeg od ON od.src = r{p}.domain
    WHERE od.src IS NULL
  ) d
)"""

_PAGERANK_SQL = _PR_PRELUDE + "".join(
    _PR_ITER_SQL.format(k=k, p=k - 1) for k in range(1, 9)
) + "\nSELECT domain, rank_pico FROM r8 ORDER BY domain\n"


@register("domain_link_stats", _LINK_STATS_SQL)
def q_domain_link_stats(spark, sf_dir):
    """Outlink extraction (regexp over html, decoy/relative links
    skipped) + per-domain degree statistics with eTLD+1 folding."""
    from .operators.link_graph import (
        domain_link_stats,
        extract_outlinks,
        synth_linked_pages,
    )

    pages = synth_linked_pages(_docs(spark, sf_dir))
    return domain_link_stats(extract_outlinks(pages)).orderBy("domain")


@register("domain_pagerank", _PAGERANK_SQL)
def q_domain_pagerank(spark, sf_dir):
    """8-iteration integer-exact PageRank (damping 17/20, pico-unit
    mass, dangling redistribution) over the extracted domain graph —
    bit-stable across engines and partitionings."""
    from .operators.link_graph import (
        extract_outlinks,
        pagerank_domains,
        synth_linked_pages,
    )

    pages = synth_linked_pages(_docs(spark, sf_dir))
    edges = extract_outlinks(pages).select("src_domain", "dst_domain")
    return pagerank_domains(edges).orderBy("domain")


# Re-crawl collapse: newest capture per canonical URL.  Reuses the
# canonical_url_dups messy-variant fixture plus a deterministic
# capture timestamp; the oracle re-derives the full canonicalization
# AND the (ts, doc_id)-lexicographic winner via a window.
_LATEST_SNAPSHOT_SQL = r"""
WITH u AS (
  SELECT doc_id,
    (1600000000 + (doc_id * 37) % 100000)::BIGINT AS warc_ts,
    CASE doc_id % 4
      WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/docs/' || (doc_id % 50)::VARCHAR
                  || '/?utm_source=feed&b=2&a=1#sec'
      WHEN 1 THEN 'https://example.com/docs/' || (doc_id % 50)::VARCHAR
                  || '?a=1&b=2'
      WHEN 2 THEN 'HTTP://Example.COM:80/docs/' || (doc_id % 50)::VARCHAR || '/'
      ELSE 'http://example.com/docs/' || (doc_id % 50)::VARCHAR
    END AS url
  FROM documents
),
parts AS (
  SELECT doc_id, warc_ts, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
      AS hostport,
    regexp_replace(
      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      '/$', '') AS path,
    regexp_extract(url, '\?([^#]*)', 1) AS query
  FROM u
),
q AS (
  SELECT *,
    array_to_string(list_sort(list_filter(string_split(query, '&'),
      p -> len(p) > 0 AND NOT regexp_matches(p,
        '^(utm_|gclid=|fbclid=|msclkid=|mc_eid=)'))), '&') AS qcanon
  FROM parts
),
canon AS (
  SELECT doc_id, warc_ts,
    CASE WHEN scheme = '' THEN lower(trim(url)) ELSE
      scheme || '://' ||
      regexp_replace(regexp_replace(hostport, '^www\.', ''),
        ':' || (CASE WHEN scheme = 'https' THEN '443' ELSE '80' END) || '$',
        '') ||
      path ||
      (CASE WHEN qcanon != '' THEN '?' || qcanon ELSE '' END)
    END AS canonical_url
  FROM q
),
ranked AS (
  SELECT canonical_url, warc_ts, doc_id,
         count(*) OVER (PARTITION BY canonical_url)::BIGINT AS n_snapshots,
         row_number() OVER (PARTITION BY canonical_url
                            ORDER BY warc_ts DESC, doc_id DESC) AS rn
  FROM canon
)
SELECT canonical_url, n_snapshots, doc_id AS latest_doc_id,
       warc_ts AS latest_ts
FROM ranked WHERE rn = 1
ORDER BY canonical_url
"""


@register("latest_snapshots", _LATEST_SNAPSHOT_SQL)
def q_latest_snapshots(spark, sf_dir):
    """Newest capture per canonical URL (re-crawl collapse): one
    max(struct)-aggregating groupBy — the oracle uses a DIFFERENT
    mechanism (window row_number) over the same canonicalization."""
    from .operators.text_analysis import latest_snapshot

    docs = _docs(spark, sf_dir)
    slot = F.pmod(F.col("doc_id"), F.lit(50)).cast("string")
    m = F.pmod(F.col("doc_id"), F.lit(4))
    url = (
        F.when(m == 0, F.concat(
            F.lit("HTTPS://WWW.Example.COM:443/docs/"), slot,
            F.lit("/?utm_source=feed&b=2&a=1#sec")))
        .when(m == 1, F.concat(
            F.lit("https://example.com/docs/"), slot, F.lit("?a=1&b=2")))
        .when(m == 2, F.concat(
            F.lit("HTTP://Example.COM:80/docs/"), slot, F.lit("/")))
        .otherwise(F.concat(F.lit("http://example.com/docs/"), slot))
    )
    ts = (F.lit(1600000000) + F.pmod(F.col("doc_id") * 37, F.lit(100000))).cast(
        "bigint"
    )
    fixture = docs.select(
        F.col("doc_id"), url.alias("url"), ts.alias("warc_ts")
    )
    return latest_snapshot(fixture).orderBy("canonical_url")


# jusText-style boilerplate block filtering.  The boilerplate-shaped
# page fixture (nav chrome, short menu item, stopword-alternating
# content paragraphs, link-heavy footer) is deterministically rebuilt
# from (doc_id, text) by BOTH engines; the oracle re-derives block
# segmentation, tag stripping, link/stopword densities (integer
# cross-products) and the order-preserving content rebuild.
_BOILER_SQL = r"""
WITH pages AS (
  SELECT doc_id,
    '<html><body><div><a href="/">Home</a> <a href="/about">About</a> '
    || '<a href="/contact">Contact</a></div><li>Menu</li>'
    || array_to_string(
         list_transform(
           range(0, greatest(cast(ceil(len(string_split_regex(trim(text),
                 '\s+')) / 5.0) AS INT), 1)),
           i -> '<p>' || CASE (doc_id + i) % 2
             WHEN 0 THEN 'the rest of the story and ' || array_to_string(
               string_split_regex(trim(text), '\s+')[i*5+1:i*5+5], ' ')
             ELSE array_to_string(
               string_split_regex(trim(text), '\s+')[i*5+1:i*5+5], ' ')
           END || '</p>'),
         '')
    || '<div>Copyright 2024 <a href="/terms">Terms of use</a> '
    || '<a href="/privacy">Privacy</a></div></body></html>' AS html
  FROM documents
),
split_pages AS (
  SELECT doc_id, string_split_regex(html,
    '(?i)</?(?:p|div|h[1-6]|li|ul|ol|td|tr|table|nav|footer|header|article|section|blockquote|br)[^>]*>')
    AS bl
  FROM pages
),
blocks AS (
  SELECT doc_id, bl[i] AS b, i AS ord
  FROM split_pages, unnest(generate_series(1, len(bl))) AS t(i)
),
info AS (
  SELECT doc_id, ord,
    trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'),
         '\s+', ' ', 'g')) AS plain,
    coalesce(list_sum(list_transform(
      regexp_extract_all(b, '(?is)<a[^>]*>(.*?)</a>', 1),
      a -> len(trim(regexp_replace(regexp_replace(a, '<[^>]*>', ' ', 'g'),
                    '\s+', ' ', 'g'))))), 0)::BIGINT AS link_chars
  FROM blocks
),
gated AS (
  SELECT doc_id, ord, plain, len(plain)::BIGINT AS n_chars,
    (CASE WHEN len(plain) = 0 THEN 0
          ELSE len(string_split(plain, ' ')) END)::BIGINT AS n_words,
    (CASE WHEN len(plain) = 0 THEN 0
          ELSE len(list_filter(string_split(plain, ' '),
            w -> lower(w) IN ('the','of','and','to','in','a','is','that',
                              'it','for','on','was','with','as','at','by',
                              'this','are','be','or'))) END)::BIGINT
      AS stop_hits,
    link_chars
  FROM info
  WHERE len(plain) > 0
),
cls AS (
  SELECT doc_id, ord, plain, n_chars,
    (n_words >= 5 AND link_chars * 100 <= n_chars * 33
     AND stop_hits * 100 >= n_words * 18) AS good
  FROM gated
)
SELECT doc_id,
  count(*)::INTEGER AS n_blocks,
  sum(CASE WHEN good THEN 1 ELSE 0 END)::INTEGER AS n_content_blocks,
  coalesce(sum(CASE WHEN good THEN n_chars END), 0)::BIGINT AS content_chars,
  coalesce(sum(CASE WHEN NOT good THEN n_chars END), 0)::BIGINT
    AS boiler_chars,
  coalesce(string_agg(CASE WHEN good THEN plain END, chr(10) ORDER BY ord),
           '') AS content_text
FROM cls
GROUP BY doc_id
ORDER BY doc_id
"""


@register("boilerplate_blocks", _BOILER_SQL)
def q_boilerplate_blocks(spark, sf_dir):
    """jusText-style block classification over boilerplate-shaped
    fixture pages: nav/menu/footer chrome dropped, content paragraphs
    kept by integer-exact link/stopword density gates."""
    from .operators.boilerplate import boilerplate_filter, synth_boiler_pages

    pages = synth_boiler_pages(_docs(spark, sf_dir))
    return boilerplate_filter(pages).orderBy("doc_id")


# Crawl-policy directives (robots meta + rel=canonical).  The fixture
# cycles every meta/canonical variant incl. swapped attribute order;
# the oracle re-derives both extraction patterns and every flag.
_DIRECTIVES_SQL = r"""
WITH pages AS (
  SELECT doc_id,
    'https://example.com/page/' || (doc_id % 60)::VARCHAR AS url,
    '<html><head>' ||
    CASE doc_id % 5
      WHEN 0 THEN ''
      WHEN 1 THEN '<meta name="robots" content="index,follow">'
      WHEN 2 THEN '<meta name="robots" content="NOINDEX">'
      WHEN 3 THEN '<meta name="robots" content="nofollow">'
      ELSE '<meta content="noindex, nofollow" name="robots">'
    END ||
    CASE doc_id % 3
      WHEN 0 THEN ''
      WHEN 1 THEN '<link rel="canonical" href="https://example.com/page/'
                  || (doc_id % 60)::VARCHAR || '">'
      ELSE '<link rel="canonical" href="https://example.com/page/'
           || (doc_id % 7)::VARCHAR || '">'
    END || '</head><body>content</body></html>' AS html
  FROM documents
),
ext AS (
  SELECT doc_id, url,
    lower(CASE
      WHEN regexp_extract(html,
        '(?is)<meta[^>]*name="robots"[^>]*content="([^"]*)"', 1) != ''
      THEN regexp_extract(html,
        '(?is)<meta[^>]*name="robots"[^>]*content="([^"]*)"', 1)
      ELSE regexp_extract(html,
        '(?is)<meta[^>]*content="([^"]*)"[^>]*name="robots"', 1)
    END) AS robots,
    regexp_extract(html,
      '(?is)<link[^>]*rel="canonical"[^>]*href="([^"]*)"', 1) AS canonical
  FROM pages
)
SELECT doc_id, url,
       contains(robots, 'noindex') AS noindex,
       contains(robots, 'nofollow') AS nofollow,
       canonical AS canonical_href,
       (canonical = '' OR canonical = url) AS canonical_self,
       NOT contains(robots, 'noindex') AS keep_page
FROM ext
ORDER BY doc_id
"""


@register("page_directives", _DIRECTIVES_SQL)
def q_page_directives(spark, sf_dir):
    """Robots-meta + rel=canonical crawl-policy extraction (both
    attribute orders), keep/duplicate-by-declaration flags."""
    from .operators.url_filter import page_directives, synth_directive_pages

    pages = synth_directive_pages(_docs(spark, sf_dir))
    return page_directives(pages).orderBy("doc_id")


# Image perceptual-hash dedup — literal-baked DuckDB RE-DERIVATION.  An
# INDEPENDENT scalar dHash implementation (plain Python loops below, no
# numpy, no codec round-trip) hashes the fixture's ground-truth pixel
# arrays; only those (media_id, dhash) literals are baked.  DuckDB then
# re-derives the ENTIRE near-dup answer as an exact all-pairs
# bit_count(xor) join — so the oracle checks (a) the encode→distributed
# decode→vectorized integral-image hash pipeline bit-for-bit against
# scalar-from-source-pixels, and (b) that the Manku banded join's output
# EQUALS the exhaustive exact answer (the pigeonhole recall guarantee),
# not merely a plausible subset.
def _dhash_scalar(px) -> int:
    """Reference dHash: nested-loop integer implementation of the spec in
    operators/multimodal.py (luma -> 8x9 floor-boundary cell averages ->
    horizontal gradient bits -> two's-complement int64)."""
    h, w = px.shape[0], px.shape[1]
    cells = [[0] * 9 for _ in range(8)]
    for i in range(8):
        r0, r1 = i * h // 8, (i + 1) * h // 8
        for j in range(9):
            c0, c1 = j * w // 9, (j + 1) * w // 9
            total = 0
            for y in range(r0, r1):
                for x in range(c0, c1):
                    r, g, b = (int(px[y][x][0]), int(px[y][x][1]),
                               int(px[y][x][2]))
                    total += (299 * r + 587 * g + 114 * b) // 1000
            cells[i][j] = total // ((r1 - r0) * (c1 - c0))
    val = 0
    for i in range(8):
        for j in range(8):
            if cells[i][j + 1] > cells[i][j]:
                val |= 1 << (i * 8 + j)
    return val - (1 << 64) if val >= (1 << 63) else val


_DHASH_BAKE_CACHE: list[str] = []


def _dhash_values() -> str:
    if not _DHASH_BAKE_CACHE:
        from .operators.multimodal import synth_dup_image_pixels

        _DHASH_BAKE_CACHE.append(", ".join(
            f"({i}, {_dhash_scalar(px)})"
            for i, px, _fmt in synth_dup_image_pixels(120)
        ))
    return _DHASH_BAKE_CACHE[0]


def _image_phashes_oracle(sf_dir: str | None = None) -> str:
    return f"""
WITH ph(media_id, dhash) AS (VALUES {_dhash_values()})
SELECT media_id::BIGINT AS media_id, dhash::BIGINT AS dhash
FROM ph ORDER BY media_id
"""


def _image_near_dups_oracle(sf_dir: str | None = None) -> str:
    return f"""
WITH ph(media_id, dhash) AS (VALUES {_dhash_values()})
SELECT a.media_id::BIGINT AS id_a, b.media_id::BIGINT AS id_b,
       bit_count(xor(a.dhash::BIGINT, b.dhash::BIGINT))::INTEGER AS hamming
FROM ph a JOIN ph b ON a.media_id < b.media_id
WHERE bit_count(xor(a.dhash::BIGINT, b.dhash::BIGINT)) <= 6
ORDER BY id_a, id_b
"""


@register("image_phashes", _image_phashes_oracle)
def q_image_phashes(spark, sf_dir):
    """Per-image 64-bit perceptual hash (dHash) over GENUINE encoded
    payloads (BMP + PNG, real bytes, native decode): one mapInPandas
    pass, no shuffle.  Oracle: independent scalar hash of the fixture's
    ground-truth pixels — verifies encode → distributed decode →
    vectorized hash bit-for-bit."""
    from .operators.multimodal import image_dhash, synth_dup_images_df

    images = synth_dup_images_df(spark, n=120)
    return image_dhash(images).orderBy("media_id")


@register("image_near_dups", _image_near_dups_oracle)
def q_image_near_dups(spark, sf_dir):
    """Image near-dup pairs by perceptual hash: cross-encoding duplicates
    (same picture as BMP and PNG), brightness shifts (dHash-invariant by
    construction) and sparse-noise variants all pair up; Manku 2-chunk
    banding at Hamming radius 6 (bits=64) — never all-pairs.  Oracle:
    DuckDB re-derives the EXACT exhaustive answer from independently
    scalar-computed hashes, so banding recall is proven equal to
    brute force, not sampled."""
    from .operators.multimodal import image_near_dup_pairs, synth_dup_images_df

    images = synth_dup_images_df(spark, n=120)
    return image_near_dup_pairs(
        images, max_hamming=6, key_chunks=2
    ).orderBy("id_a", "id_b")


# Audio perceptual-hash dedup — same literal-baked trust pattern as the
# image queries: an INDEPENDENT scalar fingerprint (plain loops, no
# numpy, no WAV round-trip) over the fixture's ground-truth samples is
# baked as VALUES; DuckDB re-derives the exact all-pairs answer.
def _afp_scalar(samples) -> int:
    """Reference audio fingerprint: nested-loop integer implementation of
    the spec in operators/multimodal.py (65 floor-boundary windows ->
    mean |amplitude| -> adjacent-window gradient bits -> int64)."""
    n = len(samples)
    avgs = []
    for w in range(65):
        lo, hi = w * n // 65, (w + 1) * n // 65
        total = 0
        for k in range(lo, hi):
            v = int(samples[k])
            total += v if v >= 0 else -v
        avgs.append(total // (hi - lo))
    val = 0
    for w in range(64):
        if avgs[w + 1] > avgs[w]:
            val |= 1 << w
    return val - (1 << 64) if val >= (1 << 63) else val


_AFP_BAKE_CACHE: list[str] = []


def _afp_values() -> str:
    if not _AFP_BAKE_CACHE:
        from .operators.multimodal import synth_dup_audio_samples

        _AFP_BAKE_CACHE.append(", ".join(
            f"({i}, {_afp_scalar(s)})"
            for i, s, _rate in synth_dup_audio_samples(120)
        ))
    return _AFP_BAKE_CACHE[0]


def _audio_fps_oracle(sf_dir: str | None = None) -> str:
    return f"""
WITH fp(media_id, afp) AS (VALUES {_afp_values()})
SELECT media_id::BIGINT AS media_id, afp::BIGINT AS afp
FROM fp ORDER BY media_id
"""


def _audio_near_dups_oracle(sf_dir: str | None = None) -> str:
    return f"""
WITH fp(media_id, afp) AS (VALUES {_afp_values()})
SELECT a.media_id::BIGINT AS id_a, b.media_id::BIGINT AS id_b,
       bit_count(xor(a.afp::BIGINT, b.afp::BIGINT))::INTEGER AS hamming
FROM fp a JOIN fp b ON a.media_id < b.media_id
WHERE bit_count(xor(a.afp::BIGINT, b.afp::BIGINT)) <= 6
ORDER BY id_a, id_b
"""


@register("audio_fingerprints", _audio_fps_oracle)
def q_audio_fingerprints(spark, sf_dir):
    """Per-clip 64-bit energy-envelope fingerprint over GENUINE PCM16
    WAV payloads (native decode): one mapInPandas pass, no shuffle.
    Oracle: independent scalar fingerprint of the ground-truth samples —
    verifies encode → distributed decode → vectorized hash
    bit-for-bit."""
    from .operators.multimodal import audio_fingerprint, synth_dup_audio_df

    clips = synth_dup_audio_df(spark, n=120)
    return audio_fingerprint(clips).orderBy("media_id")


@register("audio_near_dups", _audio_near_dups_oracle)
def q_audio_near_dups(spark, sf_dir):
    """Audio near-dup pairs by envelope fingerprint: header/sample-rate
    churn hashes identically, halved gain lands within a couple of bits,
    sparse noise nearby; Manku 2-chunk banding at Hamming radius 6
    (bits=64).  Oracle: exact exhaustive all-pairs answer from
    independently computed fingerprints — banding recall proven equal
    to brute force."""
    from .operators.multimodal import audio_near_dup_pairs, synth_dup_audio_df

    clips = synth_dup_audio_df(spark, n=120)
    return audio_near_dup_pairs(
        clips, max_hamming=6, key_chunks=2
    ).orderBy("id_a", "id_b")


# Quality-ranked cluster representatives ("keep the BEST copy, not the
# first").  The oracle composes two already-independent re-derivations —
# the recursive-CTE transitive closure over re-derived MinHash ∪ SimHash
# edges (near_dup_clusters) and the quality-score SQL — then picks the
# winner via a DIFFERENT mechanism from Spark's max(struct(...)) argmax:
# a row_number window ordered (q_score DESC, doc_id ASC).
_CLUSTER_REPS_SQL = f"""
WITH RECURSIVE mh AS ({{mh}}),
shp AS ({{shp}}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM mh
  UNION
  SELECT id_a AS u, id_b AS v FROM shp
),
sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
reach(node, lbl) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.v, r.lbl FROM reach r JOIN sym s ON s.u = r.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node),
qs AS (
  SELECT doc_id,
    round(least(n_words / 50.0, 1.0)
          * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)
          * alpha_frac, 6) AS q_score
  FROM (
    SELECT doc_id, n_words,
      CASE WHEN n_words > 0 THEN non_ws * 1.0 / n_words ELSE 0.0 END AS mwl,
      CASE WHEN n_words > 0 THEN
        len(list_filter(words, w -> regexp_matches(w, '[A-Za-zÀ-ÿ]'))) * 1.0
          / n_words
      ELSE 0.0 END AS alpha_frac
    FROM (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
        string_split_regex(trim(text), '\\s+') AS words,
        length(regexp_replace(text, '\\s', '', 'g')) AS non_ws
      FROM documents
    )
  )
),
ranked AS (
  SELECT c.cluster_id,
         (count(*) OVER (PARTITION BY c.cluster_id))::INTEGER AS cluster_size,
         c.doc_id, q.q_score,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.q_score DESC, c.doc_id ASC) AS rn
  FROM comp c JOIN qs q USING (doc_id)
)
SELECT cluster_id, cluster_size, doc_id AS kept_doc_id, q_score AS kept_score
FROM ranked WHERE rn = 1 ORDER BY cluster_id
"""


def _cluster_reps_oracle(sf_dir: str | None = None) -> str:
    return _CLUSTER_REPS_SQL.format(
        mh=_minhash_pairs_sql(), shp=_SIMHASH_PAIRS_SQL
    )


@register("cluster_representatives", _cluster_reps_oracle)
def q_cluster_representatives(spark, sf_dir):
    """Per near-dup cluster keep the highest-quality member (FineWeb-style
    'best copy' rule, tie -> lowest doc id): one partial-agg
    max(struct(score, -id)) per cluster, no corpus-wide window.  Oracle
    re-derives clusters (recursive-CTE closure over re-derived edges),
    scores, AND the argmax via a window — a fully independent mechanism."""
    from .operators.dedup import cluster_representatives
    from .plans.repartition import parallelize_scan

    return cluster_representatives(
        parallelize_scan(_docs(spark, sf_dir))
    ).orderBy("cluster_id")


# Composed web-curation gate — the full pre-langid pipeline (URL filter →
# robots directives → boilerplate removal → content quality → keep) as
# ONE map-side pass.  The oracle re-derives the ENTIRE chain from
# documents: the coherent page fixture (crawl URL + robots head +
# boilerplate body), every URL rule, both robots patterns, the complete
# block classification and content rebuild, the quality score over the
# EXTRACTED text, and the final conjunction.
_WEB_CURATION_SQL = r"""
WITH pages AS (
  SELECT doc_id,
    'https://' ||
    CASE doc_id % 7
      WHEN 0 THEN 'www.news-' || (doc_id % 23)::VARCHAR
      WHEN 1 THEN 'blog-' || (doc_id % 23)::VARCHAR
      WHEN 2 THEN 'casino-' || (doc_id % 23)::VARCHAR
      WHEN 3 THEN 'spam-mill'
      WHEN 4 THEN 'shop-' || (doc_id % 23)::VARCHAR
      WHEN 5 THEN 'm.clickfarm'
      ELSE 'forum-' || (doc_id % 23)::VARCHAR
    END || '.' ||
    CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END ||
    CASE doc_id % 6
      WHEN 0 THEN '/articles/' || (doc_id % 23)::VARCHAR
      WHEN 1 THEN '/poker/review'
      WHEN 2 THEN '/assets/logo.png'
      WHEN 3 THEN '/download/setup.exe'
      WHEN 4 THEN '/docs/' || (doc_id % 23)::VARCHAR
      ELSE '/xxx/gallery'
    END ||
    CASE doc_id % 5
      WHEN 0 THEN '?ref=lottery&page=2'
      WHEN 1 THEN '?utm_source=dating-pharmacy'
      ELSE ''
    END AS url,
    '<html><head>' ||
    CASE doc_id % 5
      WHEN 0 THEN ''
      WHEN 1 THEN '<meta name="robots" content="index,follow">'
      WHEN 2 THEN '<meta name="robots" content="NOINDEX">'
      WHEN 3 THEN '<meta name="robots" content="nofollow">'
      ELSE '<meta content="noindex, nofollow" name="robots">'
    END ||
    '</head><body>'
    || '<div><a href="/">Home</a> <a href="/about">About</a> '
    || '<a href="/contact">Contact</a></div><li>Menu</li>'
    || array_to_string(
         list_transform(
           range(0, greatest(cast(ceil(len(string_split_regex(trim(text),
                 '\s+')) / 5.0) AS INT), 1)),
           i -> '<p>' || CASE (doc_id + i) % 2
             WHEN 0 THEN 'the rest of the story and ' || array_to_string(
               string_split_regex(trim(text), '\s+')[i*5+1:i*5+5], ' ')
             ELSE array_to_string(
               string_split_regex(trim(text), '\s+')[i*5+1:i*5+5], ' ')
           END || '</p>'),
         '')
    || '<div>Copyright 2024 <a href="/terms">Terms of use</a> '
    || '<a href="/privacy">Privacy</a></div></body></html>' AS html
  FROM documents
),
parts AS (
  SELECT doc_id, url, html,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1))
      AS host,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
      AS path
  FROM pages
),
dom AS (
  SELECT *,
    CASE WHEN len(string_split(host, '.')) <= 2 THEN host
         ELSE string_split(host, '.')[len(string_split(host, '.')) - 1]
              || '.' || string_split(host, '.')[len(string_split(host, '.'))]
    END AS registered_domain
  FROM parts
),
uf AS (
  SELECT doc_id,
    (NOT registered_domain IN ('spam-mill.com', 'spam-mill.org',
                               'spam-mill.net', 'clickfarm.com',
                               'clickfarm.org', 'clickfarm.net')
     AND NOT (ends_with(lower(path), '.css') OR ends_with(lower(path), '.js')
       OR ends_with(lower(path), '.png') OR ends_with(lower(path), '.jpg')
       OR ends_with(lower(path), '.jpeg') OR ends_with(lower(path), '.gif')
       OR ends_with(lower(path), '.ico') OR ends_with(lower(path), '.svg')
       OR ends_with(lower(path), '.exe') OR ends_with(lower(path), '.zip')
       OR ends_with(lower(path), '.gz') OR ends_with(lower(path), '.tar')
       OR ends_with(lower(path), '.mp3') OR ends_with(lower(path), '.mp4')
       OR ends_with(lower(path), '.woff') OR ends_with(lower(path), '.ttf'))
     AND (CASE WHEN contains(lower(url), 'betting') THEN 500 ELSE 0 END
     + CASE WHEN contains(lower(url), 'casino') THEN 500 ELSE 0 END
     + CASE WHEN contains(lower(url), 'dating') THEN 330 ELSE 0 END
     + CASE WHEN contains(lower(url), 'escort') THEN 1000 ELSE 0 END
     + CASE WHEN contains(lower(url), 'lottery') THEN 500 ELSE 0 END
     + CASE WHEN contains(lower(url), 'pharmacy') THEN 330 ELSE 0 END
     + CASE WHEN contains(lower(url), 'poker') THEN 500 ELSE 0 END
     + CASE WHEN contains(lower(url), 'porn') THEN 1000 ELSE 0 END
     + CASE WHEN contains(lower(url), 'torrent') THEN 500 ELSE 0 END
     + CASE WHEN contains(lower(url), 'viagra') THEN 1000 ELSE 0 END
     + CASE WHEN contains(lower(url), 'webcam') THEN 500 ELSE 0 END
     + CASE WHEN contains(lower(url), 'xxx') THEN 1000 ELSE 0 END) < 1000
    ) AS keep_url
  FROM dom
),
pg AS (
  SELECT doc_id,
    NOT contains(
      lower(CASE
        WHEN regexp_extract(html,
          '(?is)<meta[^>]*name="robots"[^>]*content="([^"]*)"', 1) != ''
        THEN regexp_extract(html,
          '(?is)<meta[^>]*name="robots"[^>]*content="([^"]*)"', 1)
        ELSE regexp_extract(html,
          '(?is)<meta[^>]*content="([^"]*)"[^>]*name="robots"', 1)
      END), 'noindex') AS keep_page
  FROM pages
),
split_pages AS (
  SELECT doc_id, string_split_regex(html,
    '(?i)</?(?:p|div|h[1-6]|li|ul|ol|td|tr|table|nav|footer|header|article|section|blockquote|br)[^>]*>')
    AS bl
  FROM pages
),
blocks AS (
  SELECT doc_id, bl[i] AS b, i AS ord
  FROM split_pages, unnest(generate_series(1, len(bl))) AS t(i)
),
info AS (
  SELECT doc_id, ord,
    trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'),
         '\s+', ' ', 'g')) AS plain,
    coalesce(list_sum(list_transform(
      regexp_extract_all(b, '(?is)<a[^>]*>(.*?)</a>', 1),
      a -> len(trim(regexp_replace(regexp_replace(a, '<[^>]*>', ' ', 'g'),
                    '\s+', ' ', 'g'))))), 0)::BIGINT AS link_chars
  FROM blocks
),
gated AS (
  SELECT doc_id, ord, plain, len(plain)::BIGINT AS n_chars,
    (CASE WHEN len(plain) = 0 THEN 0
          ELSE len(string_split(plain, ' ')) END)::BIGINT AS n_words,
    (CASE WHEN len(plain) = 0 THEN 0
          ELSE len(list_filter(string_split(plain, ' '),
            w -> lower(w) IN ('the','of','and','to','in','a','is','that',
                              'it','for','on','was','with','as','at','by',
                              'this','are','be','or'))) END)::BIGINT
      AS stop_hits,
    link_chars
  FROM info
  WHERE len(plain) > 0
),
cls AS (
  SELECT doc_id, ord, plain, n_chars,
    (n_words >= 5 AND link_chars * 100 <= n_chars * 33
     AND stop_hits * 100 >= n_words * 18) AS good
  FROM gated
),
agg AS (
  SELECT doc_id,
    sum(CASE WHEN good THEN 1 ELSE 0 END)::INTEGER AS n_content_blocks,
    coalesce(string_agg(CASE WHEN good THEN plain END, chr(10) ORDER BY ord),
             '') AS content_text
  FROM cls
  GROUP BY doc_id
),
qw AS (
  SELECT doc_id, n_content_blocks,
    CASE WHEN length(trim(content_text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(content_text), '\s+')) END
      AS n_words,
    string_split_regex(trim(content_text), '\s+') AS words,
    length(regexp_replace(content_text, '\s', '', 'g')) AS non_ws
  FROM agg
),
qs AS (
  SELECT doc_id, n_content_blocks,
    round(least(n_words / 50.0, 1.0)
          * (CASE WHEN (CASE WHEN n_words > 0
                        THEN non_ws * 1.0 / n_words ELSE 0.0 END) >= 3.0
                   AND (CASE WHEN n_words > 0
                        THEN non_ws * 1.0 / n_words ELSE 0.0 END) <= 10.0
              THEN 1.0 ELSE 0.5 END)
          * (CASE WHEN n_words > 0 THEN
               len(list_filter(words,
                   w -> regexp_matches(w, '[A-Za-zÀ-ÿ]'))) * 1.0 / n_words
             ELSE 0.0 END), 6) AS q_score
  FROM qw
)
SELECT uf.doc_id, uf.keep_url, pg.keep_page, qs.n_content_blocks,
       qs.q_score,
       (uf.keep_url AND pg.keep_page AND qs.n_content_blocks > 0
        AND qs.q_score >= 0.1) AS kept
FROM uf JOIN pg USING (doc_id) JOIN qs USING (doc_id)
ORDER BY doc_id
"""


@register("web_curation_pipeline", _WEB_CURATION_SQL)
def q_web_curation_pipeline(spark, sf_dir):
    """The composed pre-langid web-curation gate — URL filter, robots
    directives, boilerplate removal, content quality, one keep verdict —
    as ONE map-side pass (zero corpus shuffles, one broadcast dim).
    Oracle re-derives the entire chain end-to-end from documents."""
    from .operators.url_filter import synth_blocklist
    from .operators.web_pipeline import curate_web_pages, synth_web_pages

    pages = synth_web_pages(_docs(spark, sf_dir))
    return curate_web_pages(
        pages, blocklist=synth_blocklist(spark)
    ).orderBy("doc_id")


# Video near-dup dedup — IVF-pattern oracle: inputs baked from
# separately-gated components, mechanism re-derived in SQL.  A LOCAL
# single-threaded bake (no Spark) walks each fixture container with the
# library codec (decode_avi_frames + scalar decode_jpeg — conformance-
# tested; the distributed path's lockstep batch decoder is separately
# tested bit-identical to it) and hashes each sampled frame with
# dhash_pixels (golden + property-tested against the scalar spec).
# Only those (media_id, frame_idx, dhash) rows are baked; DuckDB then
# re-derives BOTH query mechanisms exactly: the per-frame table, and the
# video-pair answer as the exhaustive all-frame-pairs bit_count(xor)
# join + per-video-pair match count — so the banded join is again
# proven equal to brute force.
_VFH_BAKE_CACHE: list[str] = []


def _video_hash_values() -> str:
    if not _VFH_BAKE_CACHE:
        from .functions.codecs import decode_avi_frames
        from .functions.jpeg import decode_jpeg
        from .operators.multimodal import (
            dhash_pixels,
            sample_frame_indices,
            synth_dup_video_payloads,
        )

        rows = []
        for mid, payload, _w, _h, _nf in synth_dup_video_payloads(36):
            frames = decode_avi_frames(payload)
            for i in sample_frame_indices(len(frames), 2, None):
                rows.append(
                    f"({mid}, {int(i)}, "
                    f"{dhash_pixels(decode_jpeg(frames[i]))})"
                )
        _VFH_BAKE_CACHE.append(", ".join(rows))
    return _VFH_BAKE_CACHE[0]


def _video_frame_hashes_oracle(sf_dir: str | None = None) -> str:
    return f"""
WITH fh(media_id, frame_idx, dhash) AS (VALUES {_video_hash_values()})
SELECT media_id::BIGINT AS media_id, frame_idx::INTEGER AS frame_idx,
       dhash::BIGINT AS dhash
FROM fh ORDER BY media_id, frame_idx
"""


def _video_near_dups_oracle(sf_dir: str | None = None) -> str:
    return f"""
WITH fh(media_id, frame_idx, dhash) AS (VALUES {_video_hash_values()}),
fp AS (
  SELECT least(a.media_id, b.media_id) AS id_a,
         greatest(a.media_id, b.media_id) AS id_b
  FROM fh a JOIN fh b
    ON (a.media_id * 4096 + a.frame_idx) < (b.media_id * 4096 + b.frame_idx)
   AND a.media_id != b.media_id
   AND bit_count(xor(a.dhash::BIGINT, b.dhash::BIGINT)) <= 6
)
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
       count(*)::INTEGER AS n_matched_frames
FROM fp GROUP BY id_a, id_b
HAVING count(*) >= 2
ORDER BY id_a, id_b
"""


@register("video_frame_hashes", _video_frame_hashes_oracle)
def q_video_frame_hashes(spark, sf_dir):
    """Per sampled frame perceptual hash over GENUINE MJPEG-AVI payloads
    (RIFF walk, every-2nd-frame schedule, lockstep batch JPEG decode,
    image dHash per frame).  Oracle: the same frames decoded + hashed by
    a local single-threaded bake of separately-gated components —
    verifies the distributed container/decode/hash path end-to-end."""
    from .operators.multimodal import synth_dup_videos_df, video_frame_hashes

    videos = synth_dup_videos_df(spark, n=36)
    return video_frame_hashes(videos, every_n=2).orderBy(
        "media_id", "frame_idx"
    )


@register("video_near_dups", _video_near_dups_oracle)
def q_video_near_dups(spark, sf_dir):
    """Video near-dup pairs: re-encoded clips (progressive re-encode =
    hash-identical frames, quality-80 re-encode = a few bits drift)
    pair up when >= 2 sampled frames match within Hamming 6; Manku
    2-chunk banding over frame items, one partial-agg groupBy per video
    pair.  Oracle: exhaustive all-frame-pairs re-derivation from the
    baked hashes — banding proven equal to brute force."""
    from .operators.multimodal import synth_dup_videos_df, video_near_dup_pairs

    videos = synth_dup_videos_df(spark, n=36)
    return video_near_dup_pairs(
        videos, every_n=2, max_hamming=6, min_matched_frames=2
    ).orderBy("id_a", "id_b")


# robots.txt compliance — full DuckDB re-derivation of the ENTIRE REP
# chain: the per-host robots.txt literal, comment stripping, directive
# parse, consecutive-User-agent group construction (lag + running sum),
# most-specific-group selection (trainingbot groups override *), and the
# longest-prefix-wins / Allow-beats-Disallow evaluation with the same
# lexicographic tie-break as Spark's max(struct(...)).
_ROBOTS_SQL = r"""
WITH u AS (
  SELECT doc_id,
    'https://' ||
    CASE doc_id % 7
      WHEN 0 THEN 'www.news-' || (doc_id % 23)::VARCHAR
      WHEN 1 THEN 'blog-' || (doc_id % 23)::VARCHAR
      WHEN 2 THEN 'casino-' || (doc_id % 23)::VARCHAR
      WHEN 3 THEN 'spam-mill'
      WHEN 4 THEN 'shop-' || (doc_id % 23)::VARCHAR
      WHEN 5 THEN 'm.clickfarm'
      ELSE 'forum-' || (doc_id % 23)::VARCHAR
    END || '.' ||
    CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END ||
    CASE doc_id % 6
      WHEN 0 THEN '/articles/' || (doc_id % 23)::VARCHAR
      WHEN 1 THEN '/poker/review'
      WHEN 2 THEN '/assets/logo.png'
      WHEN 3 THEN '/download/setup.exe'
      WHEN 4 THEN '/docs/' || (doc_id % 23)::VARCHAR
      ELSE '/xxx/gallery'
    END ||
    CASE doc_id % 5
      WHEN 0 THEN '?ref=lottery&page=2'
      WHEN 1 THEN '?utm_source=dating-pharmacy'
      ELSE ''
    END AS url
  FROM documents
),
b AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1))
      AS host,
    CASE WHEN regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) = ''
         THEN '/'
         ELSE regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) END AS path
  FROM u
),
hosts AS (SELECT DISTINCT host FROM b),
robots AS (
  SELECT host,
    CASE length(host) % 3
      WHEN 0 THEN 'User-agent: *' || chr(10) ||
        'Disallow: /xxx/' || chr(10) ||
        'Disallow: /download/' || chr(10) ||
        'Allow: /download/free/' || chr(10) || chr(10) ||
        'User-agent: trainingbot' || chr(10) || 'Disallow: /' || chr(10)
      WHEN 1 THEN '# site policy' || chr(10) ||
        'User-agent: trainingbot' || chr(10) ||
        'User-agent: otherbot' || chr(10) ||
        'Disallow: /poker/' || chr(10) || 'Disallow: /assets/' || chr(10)
      ELSE '# nothing blocked' || chr(10) ||
        'User-agent: *' || chr(10) || 'Disallow:' || chr(10)
    END AS robots_txt
  FROM hosts
),
lines AS (
  SELECT host, i AS line_no,
    regexp_extract(trim(regexp_replace(ls[i], '#.*$', '')),
      '(?i)^\s*(user-agent|allow|disallow)\s*:\s*(.*?)\s*$', 1) AS d,
    regexp_extract(trim(regexp_replace(ls[i], '#.*$', '')),
      '(?i)^\s*(user-agent|allow|disallow)\s*:\s*(.*?)\s*$', 2) AS v
  FROM (SELECT host, string_split(robots_txt, chr(10)) AS ls FROM robots),
       unnest(generate_series(1, len(ls))) AS t(i)
),
dirs AS (SELECT host, line_no, lower(d) AS d, v FROM lines WHERE d != ''),
marked AS (
  SELECT *,
    (d = 'user-agent') AS is_ua,
    coalesce(lag(d = 'user-agent') OVER
      (PARTITION BY host ORDER BY line_no), false) AS prev_is_ua
  FROM dirs
),
grp AS (
  SELECT host, line_no, d, v,
    sum(CASE WHEN is_ua AND NOT prev_is_ua THEN 1 ELSE 0 END) OVER
      (PARTITION BY host ORDER BY line_no) AS group_id
  FROM marked
),
agents AS (
  SELECT host, group_id,
    max(CASE WHEN lower(v) = 'trainingbot' THEN 1 ELSE 0 END) AS has_agent,
    max(CASE WHEN v = '*' THEN 1 ELSE 0 END) AS has_star
  FROM grp WHERE d = 'user-agent' GROUP BY host, group_id
),
host_specific AS (
  SELECT host, max(has_agent) AS host_has_agent FROM agents GROUP BY host
),
selected AS (
  SELECT a.host, a.group_id
  FROM agents a JOIN host_specific h USING (host)
  WHERE CASE WHEN h.host_has_agent = 1 THEN a.has_agent = 1
             ELSE a.has_star = 1 END
),
rules AS (
  SELECT DISTINCT g.host, g.d AS rule_type, g.v AS rule_path
  FROM grp g JOIN selected s ON g.host = s.host AND g.group_id = s.group_id
  WHERE g.d != 'user-agent' AND g.v != ''
),
matches AS (
  SELECT b.doc_id, b.url, b.host, r.rule_type, r.rule_path,
    row_number() OVER (
      PARTITION BY b.doc_id
      ORDER BY length(r.rule_path) DESC,
               (r.rule_type = 'allow')::INT DESC,
               r.rule_path DESC, r.rule_type DESC
    ) AS rn
  FROM b JOIN rules r
    ON b.host = r.host AND starts_with(b.path, r.rule_path)
)
SELECT b.doc_id, b.url, b.host,
  coalesce(m.rule_path, '') AS matched_rule,
  coalesce(m.rule_type, '') AS rule_type,
  coalesce(m.rule_type != 'disallow', true) AS allowed
FROM b LEFT JOIN (SELECT * FROM matches WHERE rn = 1) m USING (doc_id)
ORDER BY doc_id
"""


@register("robots_allowed_urls", _ROBOTS_SQL)
def q_robots_allowed_urls(spark, sf_dir):
    """robots.txt compliance for agent 'trainingbot': parse every
    fixture host's file (consecutive-User-agent groups, most-specific
    group overrides *), evaluate each crawl URL by longest-prefix match
    with Allow-beats-Disallow — the third permission layer next to URL
    rules and robots meta tags."""
    from .operators.robots import (
        robots_allowed,
        robots_rules,
        synth_robots_df,
    )
    from .operators.url_filter import synth_crawl_urls

    urls = synth_crawl_urls(_docs(spark, sf_dir))
    rules = robots_rules(synth_robots_df(urls), agent="trainingbot")
    return robots_allowed(urls, rules).orderBy("doc_id")
