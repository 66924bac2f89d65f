"""Checkpoint/resume orchestration (Q8 in SURVEY.md §2.7).

Unit of commit = a chunk of url-hash buckets (plans/repartition.bucket_col).
A chunk is written flat into a directory of its own, with ``bucket`` an
ordinary column of its files, and it is *committed* iff its audit rows
exist.  Protocol per chunk:

  1. write annotated rows → ``<out>/data/chunk=<id>/`` (a new directory,
     one file per write task)
  2. re-read that directory (narrow columns), aggregate audit metrics
     per bucket
  3. append audit rows naming the chunk → ``<out>/audit/``   ← the commit
     point

Resume = read the audit table, skip its buckets, and delete every
``data/chunk=*`` directory that no audit row names: a crash left those
writes uncommitted.  This is the sandbox stand-in for Iceberg snapshot
commits: the audit append is the atomic marker naming the chunk's data
files, and uncommitted directories go the way Iceberg removes orphan files.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .audit import audit_aggregation
from .repartition import bucket_col, literal_frame


def _fs(spark: SparkSession, path: str):
    """(Hadoop filesystem, Hadoop path) of ``path``: any scheme Spark reads."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def _visible(fs, hpath) -> list:
    """Entries of directory ``hpath`` that Spark reads (not ``_``/``.``)."""
    if not fs.exists(hpath):
        return []
    return [st for st in fs.listStatus(hpath)
            if not st.getPath().getName().startswith(("_", "."))]


def _committed(spark: SparkSession, out_dir: str) -> tuple[set[int], set[str]]:
    """(bucket ids, chunk ids) that the audit table names.  Raises
    ValueError on an audit table of the older per-bucket layout."""
    fs, hpath = _fs(spark, f"{out_dir}/audit")
    if not _visible(fs, hpath):
        return set(), set()
    audit = spark.read.parquet(f"{out_dir}/audit")
    if "chunk" not in audit.columns:
        raise ValueError(
            f"{out_dir}/audit has no chunk column: it belongs to the older "
            "data/bucket=<k>/ layout, not to the data/chunk=<id>/ layout "
            "this checkpointer commits; write to a new output directory")
    rows = audit.select("bucket", "chunk").distinct().collect()
    return {r.bucket for r in rows}, {r.chunk for r in rows}


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    return _committed(spark, out_dir)[0]


def _drop_uncommitted(spark: SparkSession, out_dir: str,
                      committed: set[str]) -> None:
    """Delete every ``data/chunk=<id>`` directory whose id ``committed``
    lacks.  Raises ValueError, deleting nothing, when ``data/`` holds
    anything else, such as the older ``data/bucket=<k>/`` layout."""
    fs, hpath = _fs(spark, f"{out_dir}/data")
    entries = _visible(fs, hpath)
    names = [st.getPath().getName() for st in entries]
    foreign = [n for n in names if not n.startswith("chunk=")]
    if foreign:
        raise ValueError(
            f"{out_dir}/data holds {foreign[0]}, not the data/chunk=<id>/ "
            "layout this checkpointer writes (data/bucket=<k>/ is the older "
            "layout); write to a new output directory")
    for st, name in zip(entries, names):
        if name[len("chunk="):] not in committed:
            fs.delete(st.getPath(), True)


def _chunk_audit(written: DataFrame, run_id: str, chunk: list[int],
                 chunk_id: str) -> DataFrame:
    """One audit row per bucket of ``chunk``, also for a bucket that got no
    rows: it has no written data to aggregate, yet it must commit, or
    every re-run would write it again.  Its counts and sums are 0."""
    ids = literal_frame(written.sparkSession, [(b,) for b in chunk], "bucket int")
    return (
        ids.join(audit_aggregation(written, run_id), "bucket", "left")
        .fillna(0)  # numeric columns only: the warc_ts bounds stay null
        .withColumn("chunk", F.lit(chunk_id))
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

    Before any write, the data directories of chunks that no audit row
    names are deleted, and an ``out_dir`` of the older per-bucket layout
    raises ValueError.

    ``fail_after_chunks`` injects a crash after N committed chunks (tests
    exercise the resume path with it).  Returns a summary dict.
    """
    spark = source.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]
    done, done_chunks = _committed(spark, out_dir)
    _drop_uncommitted(spark, out_dir, done_chunks)
    todo = [b for b in range(n_buckets) if b not in done]

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
        # unique across resumes, even of one run id: a chunk's first bucket
        # was never committed before.  The "b" keeps the partition value a
        # string under type inference, whatever the run id looks like
        chunk_id = f"{run_id}-b{chunk[0]}"
        chunk_dir = f"{out_dir}/data/chunk={chunk_id}"
        t0 = time.time()
        # written by the annotate tasks themselves: one file per task
        part.write.parquet(chunk_dir)
        write_sec += time.time() - t0
        t0 = time.time()
        # the schema is given, not inferred: a chunk whose buckets all got
        # no rows may leave no file to infer it from
        written = spark.read.schema(part.schema).parquet(chunk_dir)
        # one file, so a chunk's audit rows commit all at once: with only
        # some committed, resume would keep its directory and write its
        # other buckets a second time
        _chunk_audit(written, run_id, chunk, chunk_id).coalesce(1).write.mode(
            "append").parquet(f"{out_dir}/audit")
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
