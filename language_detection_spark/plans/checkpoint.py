"""Checkpoint/resume orchestration (Q8 in SURVEY.md §2.7).

Unit of commit = url-hash bucket (plans/repartition.bucket_col).  A bucket
is *committed* iff an audit row for it exists; data for uncommitted buckets
may be partial and is rewritten on resume (dynamic partition overwrite →
idempotent under partial failure).  Protocol per chunk of buckets:

  1. write annotated rows → ``<out>/data/bucket=k/`` (dynamic overwrite)
  2. re-read the written chunk (narrow columns), aggregate audit metrics
  3. append audit rows → ``<out>/audit/``   ← the commit point

Resume = read the audit table, skip its buckets.  This is the sandbox
stand-in for Iceberg snapshot commits: the audit append is the atomic
marker, data writes are idempotent.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .audit import audit_aggregation
from .repartition import bucket_col, literal_frame


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    try:
        audit = spark.read.parquet(f"{out_dir}/audit")
    except Exception:
        return set()
    return {r.bucket for r in audit.select("bucket").distinct().collect()}


def _chunk_audit(written: DataFrame, run_id: str, chunk: list[int]) -> DataFrame:
    """One audit row per bucket of ``chunk``, also for a bucket that got no
    rows: it has no written data to aggregate, yet it must commit, or
    every re-run would write it again.  Its counts and sums are 0."""
    ids = literal_frame(written.sparkSession, [(b,) for b in chunk], "bucket int")
    return (
        ids.join(audit_aggregation(written, run_id), "bucket", "left")
        .fillna(0)  # numeric columns only: the warc_ts bounds stay null
        .withColumn("run_id", F.lit(run_id))
        .withColumn("committed_at", F.current_timestamp())
    )


def run_checkpointed(
    source: DataFrame,
    out_dir: str,
    n_buckets: int,
    chunk_size: int = 64,
    run_id: str | None = None,
    fail_after_chunks: int | None = None,
    *,
    annotate,
    bucket_src_col: str = "url",
    drop_columns: tuple[str, ...] = (),
) -> dict:
    """Process all not-yet-committed buckets in chunks.

    ``source`` is the RAW pages frame and ``annotate`` maps a frame of
    pages to its annotated rows.  The bucket is computed from
    ``bucket_src_col`` (url) BEFORE filtering, so each chunk annotates
    only its own rows: the filter reaches the scan, and the detector runs
    exactly once per row across the whole job.

    Every bucket of a chunk gets an audit row when the chunk commits, a
    bucket that received no rows included (``rows_in`` = 0), so a re-run
    of a finished job has nothing left to write.

    ``fail_after_chunks`` injects a crash after N committed chunks (tests
    exercise the resume path with it).  Returns a summary dict.
    """
    spark = source.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]
    done = committed_buckets(spark, out_dir)
    todo = [b for b in range(n_buckets) if b not in done]
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # this bucket is authoritative for the commit protocol; annotate()
    # implementations must NOT recompute it (QualityFilterPipeline keeps
    # an existing bucket column for exactly this reason)
    source = source.withColumn("bucket", bucket_col(bucket_src_col, n_buckets))

    chunks = [todo[i : i + chunk_size] for i in range(0, len(todo), chunk_size)]
    n_done = 0
    write_sec = audit_sec = 0.0
    for chunk in chunks:
        # detector work is per-chunk: only this chunk's rows cross the UDF
        part = annotate(source.filter(F.col("bucket").isin(chunk)))
        if drop_columns:
            # e.g. the raw text column: the output's canonical text is the
            # scrubbed one — dropping the redundant copy halves write bytes
            part = part.drop(*drop_columns)
        # co-locate each bucket into one task before the partitioned write —
        # otherwise every task emits a file per bucket (tasks × buckets small
        # files) and the serial job commit dominates at high parallelism.
        # Hash-partitioning on bucket sends each bucket to exactly one
        # reducer (one file per bucket); the reducer count is left to AQE's
        # coalescing, so a chunk of small buckets writes with about one task
        # per core instead of one ~25 KB task (and its fixed launch cost)
        # per bucket
        part = part.repartition(F.col("bucket"))
        t0 = time.time()
        (
            part.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{out_dir}/data")
        )
        write_sec += time.time() - t0
        t0 = time.time()
        # the schema is given, not inferred: nothing was written yet when
        # the first chunk's buckets all got no rows
        written = spark.read.schema(part.schema).parquet(
            f"{out_dir}/data"
        ).filter(F.col("bucket").isin(chunk))
        _chunk_audit(written, run_id, chunk).write.mode("append").parquet(
            f"{out_dir}/audit"
        )
        audit_sec += time.time() - t0
        n_done += 1
        if fail_after_chunks is not None and n_done >= fail_after_chunks:
            raise RuntimeError(f"injected failure after {n_done} chunks")
    return {
        "run_id": run_id,
        "buckets_total": n_buckets,
        "buckets_previously_committed": len(done),
        "buckets_committed_now": sum(len(c) for c in chunks),
        "write_sec": round(write_sec, 2),
        "audit_sec": round(audit_sec, 2),
    }
