"""The flagship job: language-ID + quality-filter + PII/toxicity scrub over
a Common-Crawl-style pages table (url, warc_ts, html, text, lang).

Physical plan shape (designed for 100 TB / 1000 executors, run at sf here):

  scan(pages)                          — parquet/Iceberg; html pruned away
    → project away html immediately    (shuffle bytes = text only)
    → salted repartition on url hash   (defeat host-level skew; Q6)
    → ArrowEval[annotate: langid+ppl]  (one Python crossing; broadcast model)
    → expression-only rule columns     (whole-stage codegen; Q3)
    → PII/toxicity scrub               (JVM regexp_replace chain; Q4/Q5)
    → keep flag                        (Q1 + all rules)

``annotate()`` returns the fully annotated frame (every stat_/rule_ column
retained — the audit surface); ``run()`` filters to kept rows and the
output schema.  Checkpointed execution + per-bucket audit rows live in
plans/checkpoint.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..models.factory import DetectorModel
from ..plans.repartition import bucket_col, salted_repartition
from .quality import QualityConfig, keep_column, lang_rule, rule_columns, scrub_pii, scrub_toxicity
from .udfs import extract_text_udf, make_annotate_udf


@dataclass
class PipelineOptions:
    n_buckets: int = 256
    repartition: int | None = None      # None → let AQE decide (no reshuffle)
    seed_salt: int = 0
    engine: str = "sampling"            # or "langid_v3" (fast path)


class QualityFilterPipeline:
    def __init__(
        self,
        spark: SparkSession,
        model: DetectorModel,
        cfg: QualityConfig | None = None,
        opts: PipelineOptions | None = None,
    ) -> None:
        self.spark = spark
        self.model = model
        self.cfg = cfg or QualityConfig()
        self.opts = opts or PipelineOptions()
        self._annotate_udf = make_annotate_udf(
            model, spark, self.opts.seed_salt, engine=self.opts.engine
        )

    # ------------------------------------------------------------------
    def annotate(self, pages: DataFrame) -> DataFrame:
        df = pages
        # own the extraction when text is absent; otherwise trust the table's
        # text column (byte-identical invariant is tested, not recomputed)
        if "text" not in df.columns:
            df = df.withColumn("text", extract_text_udf()(F.col("html")))
        # html never crosses the shuffle — biggest column, project it away
        keep_cols = [c for c in df.columns if c != "html"]
        df = df.select(*keep_cols)
        # a caller (run_checkpointed) may have bucketed already — recomputing
        # with a different modulus would put rows of buckets outside the
        # chunk into its directory, where its audit rows do not count them
        if "bucket" not in df.columns:
            df = df.withColumn("bucket", bucket_col("url", self.opts.n_buckets))
        if self.opts.repartition:
            df = salted_repartition(df, self.opts.repartition, "url",
                                    self.opts.seed_salt)
        det = self._annotate_udf("url", "text")
        df = df.withColumn("_det", det).select(
            "*", "_det.lang_conf", "_det.ppl", F.col("_det.lang").alias("lang_pred")
        ).drop("_det")
        # detector output is authoritative for filtering; keep any source
        # label under lang_src for evaluation
        if "lang" in pages.columns:
            df = df.withColumnRenamed("lang", "lang_src")
        df = df.withColumnRenamed("lang_pred", "lang")
        df = rule_columns(df, self.cfg, "text")
        df = lang_rule(df, self.cfg)
        df = df.withColumn(
            "scrubbed_text", scrub_toxicity(scrub_pii(F.col("text")), self.cfg)
        )
        return df.withColumn("keep", keep_column(df))

    def run(self, pages: DataFrame) -> DataFrame:
        ann = self.annotate(pages)
        out_cols = ["url", "warc_ts", "lang", "lang_conf", "ppl", "scrubbed_text"]
        # scrub SURVIVORS only: drop the audit-surface scrubbed_text (column
        # pruning then removes its regex chain from below the filter — the
        # keep decision never reads it) and re-attach the identical
        # deterministic expression above the filter, so the 4-pass PII +
        # toxicity regexes run on kept rows (~half the corpus here) instead
        # of every row.  Same rows, same bytes.
        kept = ann.drop("scrubbed_text").filter(F.col("keep"))
        if "scrubbed_text" in ann.columns:
            kept = kept.withColumn(
                "scrubbed_text",
                scrub_toxicity(scrub_pii(F.col("text")), self.cfg),
            )
        return kept.select(*[c for c in out_cols if c in ann.columns])
