"""spark-submit entry point for the quality-filter pipeline.

    spark-submit --master local[32] --py-files dist/pipeline.zip \
        jobs/run_pipeline.py --input <pages parquet> --output <dir> \
        [--profile-dir DIR] [--buckets 256] [--chunk 64] [--no-resume]

Runs the full langid + quality-filter + scrub pipeline with checkpointed
per-bucket commits and an audit table; resumable by re-running with the
same --output.  Prints a one-line JSON summary (rows, docs/sec, metrics).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet path")
    ap.add_argument("--output", required=True, help="output root (data/ + audit/)")
    ap.add_argument("--profile-dir", default=None)
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--chunk", type=int, default=64)
    ap.add_argument("--repartition", type=int, default=None)
    ap.add_argument("--lang-allow", default="en")
    ap.add_argument("--engine", default="sampling",
                    choices=["sampling", "langid_v3"])
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--keep-text", action="store_true",
                    help="also write the raw text column (default: only the "
                    "scrubbed text ships — half the output bytes)")
    ap.add_argument("--dedup", action="store_true",
                    help="after the filter commits, near-dup-dedup the KEPT "
                    "rows (exact md5 groups + MinHash-LSH on scrubbed text) "
                    "and write <output>/dedup/ (kept doc list + dup pairs + "
                    "an audit row) — the standard web training-data shape")
    ap.add_argument("--dedup-threshold", type=float, default=0.8)
    ap.add_argument("--dedup-mode", default="pairs", choices=["pairs", "cc"],
                    help="pairs: drop the larger-url side of every near-dup "
                    "pair (pairwise semantics). cc: connected components "
                    "over the pair graph, keep ONE min-url representative "
                    "per cluster (transitive semantics — Lee et al. 2022)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    # under spark-submit the session/master comes from the launcher
    spark = SparkSession.builder.appName("quality-filter-pipeline").getOrCreate()

    from language_detection_spark.models.factory import load_default_model
    from language_detection_spark.operators.pipeline import (
        PipelineOptions,
        QualityFilterPipeline,
    )
    from language_detection_spark.operators.quality import QualityConfig
    from language_detection_spark.plans.checkpoint import run_checkpointed

    model = load_default_model(args.profile_dir)
    cfg = QualityConfig(
        lang_allow=tuple(args.lang_allow.split(",")), min_stopword_hits=1
    )
    repartition = args.repartition
    if repartition is None:
        # salted repartition before the UDF stage: 4 waves per core for load
        # balance (Q6; host-level input skew dies here)
        repartition = 4 * spark.sparkContext.defaultParallelism
    opts = PipelineOptions(n_buckets=args.buckets, repartition=repartition,
                           engine=args.engine)
    pipe = QualityFilterPipeline(spark, model, cfg, opts)

    pages = spark.read.parquet(args.input)
    if args.no_resume:
        import shutil

        shutil.rmtree(args.output, ignore_errors=True)
    t0 = time.time()
    # annotate-per-chunk mode: the bucket filter runs on the RAW pages, so
    # each row crosses the detector UDF exactly once across the whole job
    # (never once per chunk)
    summary = run_checkpointed(
        pages, args.output, n_buckets=args.buckets, chunk_size=args.chunk,
        run_id=args.run_id, annotate=pipe.annotate,
        drop_columns=() if args.keep_text else ("text",),
    )
    wall = time.time() - t0
    from pyspark.sql import functions as F

    audit = spark.read.parquet(f"{args.output}/audit").filter(
        F.col("run_id") == summary["run_id"]
    )
    arow = audit.agg(
        F.sum("rows_in").alias("rows_in"),
        F.sum("rows_kept").alias("rows_kept"),
        F.sum("sum_lang_conf").alias("sum_lang_conf"),
    ).first()
    rows_in = arow["rows_in"]
    metrics = {
        "rows_in": rows_in,
        "rows_kept": arow["rows_kept"],
        "avg_lang_conf": (
            arow["sum_lang_conf"] / rows_in if rows_in else None
        ),
    }
    out = {
        **summary,
        "wall_sec": round(wall, 2),
        "metrics": {k: (round(v, 6) if isinstance(v, float) else v) for k, v in metrics.items()},
        "docs_per_sec": round(rows_in / wall, 1) if rows_in else None,
    }
    if args.dedup:
        out["dedup"] = _dedup_stage(
            spark, args.output, summary["run_id"], args.dedup_threshold,
            mode=args.dedup_mode,
        )
    print(json.dumps(out))
    spark.stop()
    return 0


def _dedup_stage(spark, output: str, run_id: str, threshold: float,
                 mode: str = "pairs") -> dict:
    """Near-dup dedup over the committed KEPT rows: exact first (identical
    scrubbed text collapses to the min-url representative — kills
    boilerplate clusters before LSH, see BENCH/dedup_skew.json), then
    MinHash-LSH pairs over the exact-survivors.  ``mode="pairs"`` drops a
    doc when it near-duplicates a doc with a smaller url; ``mode="cc"``
    runs connected components (large-star/small-star) over the pair graph
    and keeps ONE min-url representative per transitive cluster — the two
    differ on chain-shaped clusters, where pairwise semantics over-keep.
    Writes <output>/dedup/docs (url + bucket of survivors), /dedup/pairs,
    and an audit row; re-running overwrites (idempotent)."""
    import time as _time

    from pyspark.sql import functions as F

    from language_detection_spark.operators.dedup import (
        exact_dedup,
        minhash_dedup_pairs,
    )
    from language_detection_spark.plans.caching import release_tracked_caches
    from language_detection_spark.plans.repartition import literal_frame

    t0 = _time.time()
    kept = (
        spark.read.parquet(f"{output}/data")
        .filter(F.col("keep"))
        .select("url", "bucket", "scrubbed_text")
    )
    n_kept = kept.count()
    exact = exact_dedup(kept, text_col="scrubbed_text", id_col="url").persist()
    n_exact = exact.count()
    pairs = minhash_dedup_pairs(
        exact, text_col="scrubbed_text", id_col="url", threshold=threshold
    ).persist()
    pairs.write.mode("overwrite").parquet(f"{output}/dedup/pairs")
    if mode == "cc":
        # transitive clusters; CC runs on 60-bit url hashes (at 10^12 docs
        # the expected number of colliding hash pairs is ~5e4, each merging
        # two unrelated clusters and over-dropping one doc — a 5e-8
        # over-drop fraction, negligible for training-data dedup)
        from language_detection_spark.operators.dedup import (
            connected_components,
            md5_int,
        )

        edges = pairs.select(
            md5_int(F.col("id_a")).alias("id_a"),
            md5_int(F.col("id_b")).alias("id_b"),
        )
        cc = connected_components(edges)
        nid = exact.withColumn("_nid", md5_int(F.col("url")))
        clustered = nid.join(cc, nid["_nid"] == cc["node"], "inner")
        reps = clustered.groupBy("component").agg(F.min("url").alias("_rep"))
        losers = (
            clustered.join(reps, "component")
            .filter(F.col("url") != F.col("_rep"))
            .select("url")
            .distinct()
        )
    else:
        # survivor = not the larger-url side of any near-dup pair
        losers = pairs.select(F.col("id_b").alias("url")).distinct()
    docs = exact.join(losers, "url", "left_anti").select("url", "bucket")
    docs.write.mode("overwrite").parquet(f"{output}/dedup/docs")
    n_final = spark.read.parquet(f"{output}/dedup/docs").count()
    n_pairs = pairs.count()
    exact.unpersist()
    pairs.unpersist()
    release_tracked_caches()
    wall = _time.time() - t0
    audit = literal_frame(
        spark, [(run_id, n_kept, n_exact, n_pairs, n_final)],
        "run_id string, rows_kept long, after_exact long, near_dup_pairs long,"
        " rows_final long",
    ).withColumn("committed_at", F.current_timestamp())
    audit.write.mode("overwrite").parquet(f"{output}/dedup/audit")
    return {
        "mode": mode,
        "rows_kept": n_kept,
        "after_exact_dedup": n_exact,
        "near_dup_pairs": n_pairs,
        "rows_final": n_final,
        "wall_sec": round(wall, 2),
    }


if __name__ == "__main__":
    sys.exit(main())
