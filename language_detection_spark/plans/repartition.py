"""Explicit partitioning for the heavy UDF stage (Q6 in SURVEY.md §2.7),
and the other plan-shape choices below.

At 10^12-document scale the input arrives partitioned by crawl file, i.e.
by host — a handful of giant hosts would pin a handful of tasks for hours.
AQE's skew handling only splits *join/agg* partitions, not UDF map stages,
so the pipeline repartitions explicitly on a salted url hash before the
detector UDF: uniform key space → uniform task durations.  The bucket
column doubles as the checkpoint/resume unit (plans/checkpoint.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket_col(key_col: str = "url", n_buckets: int = 256) -> Column:
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    key_col: str = "url",
    salt: int = 0,
) -> DataFrame:
    """Repartition by a salted uniform hash of the document key, defeating
    any host/file-level clustering of the input."""
    h = F.xxhash64(F.col(key_col), F.lit(salt))
    return df.repartition(num_partitions, h)


def parallelize_scan(df: DataFrame, min_factor: int = 2) -> DataFrame:
    """Widen a too-narrow scan before a CPU-heavy UDF stage.

    Spark splits file scans by BYTES (maxPartitionBytes), which is the
    wrong unit ahead of per-row CPU work: a 1 MB parquet of 5k docs
    arrives as ONE task and pins one core while the rest idle.  If the
    current partition count is below cluster parallelism, repartition up;
    at real scale (thousands of input splits) this is a no-op — the scan
    already exceeds defaultParallelism, so no shuffle is added.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * min_factor <= target:
        return df.repartition(target)
    return df


def one_task_or_distributed(df: DataFrame, max_rows: int, local, distributed):
    """The engine pick of the iterative operators (connected components,
    PageRank, BPE training), which are actions: each distributed round is
    shuffle stages plus a driver read.  ``df`` is materialized once (eager
    localCheckpoint: the loops reference it several times per round) and
    counted from its blocks; up to ``max_rows`` rows ``local(e)`` runs the
    whole algorithm in ONE task (one job), else ``distributed(e)`` runs the
    rounds that scale past what one task can hold."""
    e = df.localCheckpoint(eager=True)
    return local(e) if e.count() <= max_rows else distributed(e)


def literal_frame(spark, rows, schema: str) -> DataFrame:
    """Driver-side ``rows`` (DDL ``schema``) as one literal array, where
    ``createDataFrame(<list>)`` plans a Python RDD that starts workers."""
    structs = [F.struct(*map(F.lit, row)) for row in rows]
    return spark.range(1).select(
        F.inline(F.array(*structs).cast(f"array<struct<{schema}>>"))
    )
