"""Scale-behavior tests: AQE skew-join splitting under the session config,
scan widening that must be a no-op on already-wide inputs, and the
boilerplate-cluster dedup stress (bucket caps keep LSH sub-quadratic while
recall on non-degenerate pairs holds)."""

from pyspark.sql import functions as F

from language_detection_spark.plans.repartition import parallelize_scan


def test_parallelize_scan_widens_narrow_and_skips_wide(spark, tmp_path):
    narrow_path = str(tmp_path / "narrow")
    spark.range(0, 1000).coalesce(1).write.parquet(narrow_path)
    narrow = spark.read.parquet(narrow_path)
    assert narrow.rdd.getNumPartitions() == 1
    widened = parallelize_scan(narrow)
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # already-wide input: no repartition node added (no extra shuffle)
    wide = spark.range(0, 1000).repartition(64)
    assert parallelize_scan(wide) is wide


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_small_driver_frames_plan_no_python_rdd(spark, tmp_path, monkeypatch):
    """The library's small driver-side frames (BPE merge table, fixture
    blocklist, language_rebalance's target shares, the dedup stage's
    audit row) are literal arrays: a
    ``createDataFrame(<python list>)`` frame plans a LogicalRDD, whose
    scan starts Python workers of its own."""
    import sys
    from pathlib import Path

    from pyspark.sql import DataFrameWriter

    from language_detection_spark.operators.text_analysis import (
        language_rebalance,
    )
    from language_detection_spark.operators.tokenizer import bpe_merges_df
    from language_detection_spark.operators.url_filter import synth_blocklist

    assert "LogicalRDD" in _analyzed(spark.createDataFrame([(1,)], "a int"))
    merges = [(1, "a", "b", 5), (2, "ab", "</w>", 3)]
    for df in (bpe_merges_df(spark, merges), bpe_merges_df(spark, []),
               synth_blocklist(spark)):
        assert "LogicalRDD" not in _analyzed(df)
    assert [tuple(r) for r in bpe_merges_df(spark, merges).collect()] == merges
    assert bpe_merges_df(spark, []).count() == 0
    assert synth_blocklist(spark).count() == 6
    docs = spark.range(200).selectExpr(
        "id AS doc_id", "IF(id % 4 = 0, 'en', 'de') AS lang")
    rebalanced = language_rebalance(docs, {"de": 500, "en": 500})
    assert "LogicalRDD" not in _analyzed(rebalanced)
    assert 0 < rebalanced.count() <= 100

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    import run_pipeline

    out = str(tmp_path / "job")
    spark.createDataFrame(
        [("u1", 0, "a b c d e", True), ("u2", 1, "f g h i j", True)],
        "url string, bucket int, scrubbed_text string, keep boolean",
    ).write.parquet(f"{out}/data")
    plans = {}
    write = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans[path] = _analyzed(self._df)
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    res = run_pipeline._dedup_stage(spark, out, "r1", threshold=0.8)
    assert "LogicalRDD" not in plans[f"{out}/dedup/audit"]
    audit = spark.read.parquet(f"{out}/dedup/audit").first()
    assert (audit.run_id, audit.rows_kept, audit.rows_final) == (
        "r1", 2, res["rows_final"])


def test_aqe_splits_skewed_join(spark):
    """The session config (AQE + skew join) actually splits a pathological
    key at runtime: one key holds ~all left rows; after execution the
    adaptive plan marks the sort-merge join as skew-handled."""
    prev = {}
    for k, v in {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }.items():
        prev[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 5000).select(
            F.col("id").alias("k"), F.lit("r").alias("rv")
        )
        # keep the fat pad column THROUGH the join so the skewed key's
        # shuffle partition actually exceeds the skew threshold
        joined = left.join(right, "k").select("k", "pad")
        n = len(joined.collect())   # collect() finalizes THIS frame's
        assert n > 0                # adaptive plan (count() would re-plan)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_minhash_skewed_boilerplate_bounded_with_full_recall(spark):
    """Web-scale pathology: a cluster of byte-identical boilerplate docs
    would make every one of its LSH buckets quadratic (20k docs -> 2*10^8
    intra-cluster pairs).  The production composition is exact-dedup
    upstream + bucket-size caps in the band join.  Asserts BOTH safety
    (candidate pairs stay ~linear in the planted structure, never
    cluster-quadratic) and quality (every planted near-dup pair found)."""
    from language_detection_spark.operators.dedup import (
        exact_dedup,
        lsh_candidate_pairs,
        minhash_dedup_pairs,
        minhash_signatures,
    )
    from language_detection_spark.sources.skew import (
        planted_pair_ids,
        synth_skewed_corpus,
    )

    n_docs, boiler_n = 22_000, 20_000
    docs = synth_skewed_corpus(spark, n_docs, boiler_n).persist()
    planted = set(planted_pair_ids(n_docs, boiler_n))
    assert len(planted) == 20

    # leg 1: exact dedup first — the boilerplate cluster collapses to ONE
    # representative, so LSH sees no degenerate bucket at all (a cap of
    # the corpus size can drop nothing)
    deduped = exact_dedup(docs).persist()
    assert deduped.filter(F.col("doc_id") < boiler_n).count() == 1
    pairs1 = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            deduped, threshold=0.8, max_bucket_size=n_docs
        ).collect()
        if r.id_a >= boiler_n
    }
    assert pairs1 == planted

    # leg 2: no exact dedup, bucket cap ON — the 20k-doc buckets are
    # dropped before the self-join (handled-by-exact-dedup semantics);
    # candidates stay bounded and the planted pairs all survive
    sigs = minhash_signatures(docs)
    cands = lsh_candidate_pairs(sigs, max_bucket_size=1000)
    n_cands = cands.count()
    # linear headroom bound: planted pairs + hash-collision noise; the
    # boilerplate cluster alone would have contributed ~2*10^8
    assert n_cands < 5_000, f"candidate blowup: {n_cands}"
    got = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            docs, threshold=0.8, max_bucket_size=1000
        ).collect()
        if r.id_a >= boiler_n
    }
    assert got == planted
    docs.unpersist()
    deduped.unpersist()
