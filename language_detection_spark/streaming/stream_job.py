"""Structured Streaming form of the pipeline (I10 in SURVEY.md §2.5).

The reference's streaming surface is the append/classify contract
(ILangIdClassifier.java:43-102) — stateless per document — so the whole
batch pipeline lifts to ``readStream`` unchanged: the same annotate UDF +
rule expressions run per micro-batch; watermarked windowed aggregation
provides the audit-metric stream (late data bounded by the watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..models.factory import DetectorModel
from ..operators.pipeline import PipelineOptions, QualityFilterPipeline
from ..operators.quality import QualityConfig
from ..plans.audit import audit_aggregation


def streaming_pipeline(
    spark: SparkSession,
    model: DetectorModel,
    input_dir: str,
    schema,
    cfg: QualityConfig | None = None,
) -> DataFrame:
    """File-source streaming pages → annotated stream (same columns as the
    batch ``annotate``)."""
    pages = spark.readStream.schema(schema).parquet(input_dir)
    pipe = QualityFilterPipeline(
        spark, model, cfg or QualityConfig(), PipelineOptions(n_buckets=64)
    )
    return pipe.annotate(pages)


def windowed_audit_stream(
    annotated: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window audit metrics over the annotated
    stream: rows in/kept per (window, bucket); late events beyond the
    watermark are dropped deterministically."""
    return (
        annotated.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("bucket"))
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.col("keep").cast("long")).alias("rows_kept"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "bucket",
            "rows_in",
            "rows_kept",
        )
    )


def run_stream_with_audit(
    spark: SparkSession,
    model: DetectorModel,
    input_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    cfg: QualityConfig | None = None,
    opts: PipelineOptions | None = None,
    run_id: str = "stream",
    max_files_per_trigger: int | None = None,
) -> dict:
    """FULL pipeline (annotate + rules + scrub) inside ``foreachBatch``,
    with a data/audit commit protocol like plans/checkpoint.py's, still in
    per-bucket directories rather than its flat per-chunk ones:

    * data → ``<out>/data/batch_id=<b>/bucket=<k>/`` (dynamic partition
      overwrite: a REPLAYED micro-batch — foreachBatch offers at-least-once
      on failure — overwrites exactly its own partitions, so the output is
      idempotent per batch id)
    * audit rows (per bucket, from a re-read of the data that actually
      committed) → ``<out>/audit/batch_id=<b>/`` the same way

    The streaming checkpoint tracks the file-source offsets; batch_id ties
    every data/audit partition to one source epoch.  availableNow bounds
    the run for tests/backfills; a production run drops the trigger.
    Returns {n_batches, rows_in, rows_kept} observed across the run."""
    pipe = QualityFilterPipeline(
        spark, model, cfg or QualityConfig(), opts or PipelineOptions(n_buckets=64)
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_dir)
    totals = {"n_batches": 0, "rows_in": 0, "rows_kept": 0}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        ann = pipe.annotate(batch_df).withColumn("batch_id", F.lit(batch_id))
        n_parts = max(1, min(64, batch_df.rdd.getNumPartitions()))
        # dynamic overwrite as a per-WRITE option: foreachBatch hands the
        # frame a cloned session, so session-level conf set outside would
        # not reach this write (static overwrite would wipe other batches)
        (
            ann.repartition(n_parts, F.col("bucket"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "bucket")
            .parquet(f"{out_dir}/data")
        )
        written = spark.read.parquet(f"{out_dir}/data").filter(
            F.col("batch_id") == batch_id
        )
        audit = audit_aggregation(written, run_id).withColumn(
            "batch_id", F.lit(batch_id)
        )
        (
            audit.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{out_dir}/audit")
        )
        row = audit.agg(
            F.sum("rows_in").alias("ri"), F.sum("rows_kept").alias("rk")
        ).first()
        totals["n_batches"] += 1
        totals["rows_in"] += int(row.ri or 0)
        totals["rows_kept"] += int(row.rk or 0)

    q = (
        pages.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return totals


def run_stream_once(
    spark: SparkSession,
    model: DetectorModel,
    input_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    cfg: QualityConfig | None = None,
) -> None:
    """Process everything currently in ``input_dir`` with availableNow
    (bounded run for tests/backfills), writing kept+scrubbed rows."""
    ann = streaming_pipeline(spark, model, input_dir, schema, cfg)
    out = ann.filter(F.col("keep")).select(
        "url", "warc_ts", "lang", "lang_conf", "scrubbed_text"
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
