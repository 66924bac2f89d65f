"""Per-partition lineage + metrics audit rows (Q7 in SURVEY.md §2.7).

The audit table answers "what did the pipeline do to bucket k": input rows,
kept rows, per-rule drop counts, run id.  Metrics are aggregated from the
*written annotated output* (narrow boolean/stat columns only — parquet
column pruning makes this re-scan cheap even at 100 TB), so audit numbers
always describe data that actually committed, never a speculative pass.
Job-level totals are sums over these rows; no counter rides the write
action itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def audit_aggregation(annotated: DataFrame, run_id: str) -> DataFrame:
    rule_cols = [c for c in annotated.columns if c.startswith("rule_")]
    aggs = [
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.col("keep").cast("long")).alias("rows_kept"),
        F.sum("lang_conf").alias("sum_lang_conf"),
        F.min("warc_ts").alias("min_warc_ts"),
        F.max("warc_ts").alias("max_warc_ts"),
    ]
    aggs += [F.sum(F.col(c).cast("long")).alias(f"drop_{c[5:]}") for c in rule_cols]
    return (
        annotated.groupBy("bucket")
        .agg(*aggs)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("committed_at", F.current_timestamp())
    )

