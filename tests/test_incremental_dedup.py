"""Incremental dedup against a persisted signature store: round-trip,
new-vs-store pair recovery, and append semantics."""

from pyspark.sql import functions as F

from language_detection_spark.operators.dedup import (
    banded_rows,
    build_sig_store,
    incremental_near_dups,
    minhash_signatures,
)


def _corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to hide from all the hunters"
    )
    old_rows = [
        (0, base),
        (1, "completely different text about databases indexes and logs "
            "in modern storage engines running on commodity hardware"),
        (2, "unrelated musings on compilers type systems and abstract "
            "interpretation with widening operators and fixpoints"),
    ]
    new_rows = [
        (100, base.replace("green", "dark")),          # near-dup of 0
        (101, "entirely novel content mentioning oceans tides and moons "
              "with gravitational resonance effects in orbital dynamics"),
    ]
    return (
        spark.createDataFrame(old_rows, "doc_id long, text string"),
        spark.createDataFrame(new_rows, "doc_id long, text string"),
    )


def test_incremental_store_roundtrip(spark, tmp_path):
    old, new = _corpus(spark)
    store_path = str(tmp_path / "sig_store")
    build_sig_store(old, store_path)
    store = spark.read.parquet(store_path)
    # layout: partitioned by band, one row per (doc, band)
    assert sorted(store.columns) == ["band", "band_hash", "id", "sig"]
    assert store.count() == 3 * 4

    pairs = incremental_near_dups(new, store)
    got = {(r["id_new"], r["id_old"]): r["est_jaccard"]
           for r in pairs.collect()}
    assert (100, 0) in got
    assert got[(100, 0)] >= 0.5
    assert all(id_new != 101 for id_new, _ in got)


def test_incremental_matches_in_memory_store(spark, tmp_path):
    old, new = _corpus(spark)
    store_path = str(tmp_path / "sig_store2")
    build_sig_store(old, store_path)
    from_disk = incremental_near_dups(
        new, spark.read.parquet(store_path)
    ).collect()
    in_mem = incremental_near_dups(
        new, banded_rows(minhash_signatures(old))
    ).collect()
    assert sorted(map(tuple, from_disk)) == sorted(map(tuple, in_mem))


def test_bucketed_store_probe_equivalent_and_pruned(spark, tmp_path):
    """bh_bucket-partitioned store: the probe must return exactly the
    flat-layout pairs AND its store scan must carry a bh_bucket
    PartitionFilter (file pruning — the store side of the probe join
    reads only the buckets the batch's hashes fall in, so probe cost
    tracks batch coverage, not store size)."""
    from language_detection_spark.operators.dedup import bh_bucket_col

    old, new = _corpus(spark)
    flat_path = str(tmp_path / "sig_flat")
    bkt_path = str(tmp_path / "sig_bkt")
    build_sig_store(old, flat_path)
    build_sig_store(old, bkt_path, store_buckets=8)
    bkt_store = spark.read.parquet(bkt_path)
    assert "bh_bucket" in bkt_store.columns
    flat_pairs = incremental_near_dups(
        new, spark.read.parquet(flat_path)
    ).collect()
    probed = incremental_near_dups(new, bkt_store, store_buckets=8)
    assert sorted(map(tuple, probed.collect())) == sorted(
        map(tuple, flat_pairs)
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bh_bucket" in plan.split(
        "PartitionFilters", 1
    )[1][:400], "store scan is not partition-pruned by bh_bucket"
    # the bucket expression itself is consistent across engines/sides
    got = (
        banded_rows(minhash_signatures(old))
        .select(bh_bucket_col(8).alias("b"))
        .agg(F.min("b"), F.max("b"))
        .first()
    )
    assert 0 <= got[0] and got[1] < 8


def test_store_append_admits_new_docs(spark, tmp_path):
    old, new = _corpus(spark)
    store_path = str(tmp_path / "sig_store3")
    build_sig_store(old, store_path)
    build_sig_store(new, store_path, mode="append")
    store = spark.read.parquet(store_path)
    assert store.select("id").distinct().count() == 5
    # a later batch that duplicates an APPENDED doc is now caught
    later = spark.createDataFrame(
        [(200, new.filter(F.col("doc_id") == 100).first()["text"])],
        "doc_id long, text string",
    )
    got = {(r["id_new"], r["id_old"])
           for r in incremental_near_dups(later, store).collect()}
    assert (200, 100) in got


def test_compact_store_merges_and_purges(spark, tmp_path):
    """Compaction invariant: after N appends + a compact cycle with
    deletions, probing the store is IDENTICAL to probing a store freshly
    built from the surviving documents — and the file count shrinks."""
    from language_detection_spark.operators.dedup import compact_sig_store

    old, new = _corpus(spark)
    store_path = str(tmp_path / "sig_store_c")
    build_sig_store(old, store_path)
    build_sig_store(new, store_path, mode="append")  # fragments per band
    stats = compact_sig_store(
        spark,
        store_path,
        drop_ids=spark.createDataFrame([(1,), (101,)], "id long"),
    )
    assert stats["rows_before"] == 5 * 4 and stats["rows_after"] == 3 * 4
    assert stats["files_after"] <= stats["files_before"]
    store = spark.read.parquet(store_path)
    assert set(r["id"] for r in store.select("id").distinct().collect()) == {
        0, 2, 100,
    }
    # equivalence: compacted store ≡ fresh store over surviving docs
    survivors = old.filter(F.col("doc_id") != 1).unionAll(
        new.filter(F.col("doc_id") != 101)
    )
    probe = spark.createDataFrame(
        [(300, old.first()["text"])], "doc_id long, text string"
    )
    got = sorted(
        map(tuple, incremental_near_dups(probe, store).collect())
    )
    fresh = sorted(
        map(
            tuple,
            incremental_near_dups(
                probe, banded_rows(minhash_signatures(survivors))
            ).collect(),
        )
    )
    assert got == fresh and got  # the base-text dup (300, 0) survives


def test_compact_streaming_store_ttl(spark, tmp_path):
    """TTL + layout preservation on a batch_id-partitioned streaming-style
    store: old batches expire, the (batch_id, band) layout survives, and
    the stream's `batch_id < b` probe filter still works."""
    from language_detection_spark.operators.dedup import compact_sig_store

    old, new = _corpus(spark)
    store_path = str(tmp_path / "sig_store_s")
    for bid, frame in [(0, old), (1, new)]:
        (
            banded_rows(minhash_signatures(frame))
            .withColumn("batch_id", F.lit(bid))
            .write.mode("append")
            .partitionBy("batch_id", "band")
            .parquet(store_path)
        )
    stats = compact_sig_store(
        spark, store_path, min_batch_id=1, preserve_batches=True
    )
    assert stats["rows_after"] == 2 * 4
    store = spark.read.parquet(store_path)
    assert store.filter(F.col("batch_id") < 1).count() == 0
    assert set(store.columns) >= {"batch_id", "band", "band_hash", "id", "sig"}
    import os

    assert any(
        d.startswith("batch_id=") for d in os.listdir(store_path)
    ), "streaming layout not preserved"


def test_compact_auto_detects_stream_layout(spark, tmp_path):
    """Default compaction (preserve_batches=None) must not flatten a
    streaming-layout store to band=<k> — mixed partition depths after the
    stream's next append would break spark.read.parquet on the store."""
    from language_detection_spark.operators.dedup import (
        compact_sig_store,
        sig_store_layout,
    )

    old, new = _corpus(spark)
    store_path = str(tmp_path / "sig_store_auto")
    for bid, frame in [(0, old), (1, new)]:
        (
            banded_rows(minhash_signatures(frame))
            .withColumn("batch_id", F.lit(bid))
            .write.mode("append")
            .partitionBy("batch_id", "band")
            .parquet(store_path)
        )
    assert sig_store_layout(spark, store_path) == "stream"
    compact_sig_store(spark, store_path)  # no preserve_batches arg
    assert sig_store_layout(spark, store_path) == "stream"
    import os

    assert any(d.startswith("batch_id=") for d in os.listdir(store_path))
    # a batch-built store still compacts to the flat band=<k> layout
    flat_path = str(tmp_path / "sig_store_flat")
    build_sig_store(old, flat_path)
    compact_sig_store(spark, flat_path)
    assert sig_store_layout(spark, flat_path) == "batch"


def test_compact_rejects_bad_knobs(spark, tmp_path):
    from language_detection_spark.operators.dedup import compact_sig_store

    old, _ = _corpus(spark)
    store_path = str(tmp_path / "sig_store_k")
    build_sig_store(old, store_path)  # no batch_id column
    import pytest

    with pytest.raises(ValueError, match="batch_id"):
        compact_sig_store(spark, store_path, min_batch_id=1)
    with pytest.raises(ValueError, match="does not exist"):
        compact_sig_store(spark, str(tmp_path / "nope"))


# --- property: incremental probe ≡ full-batch LSH cross-pairs --------------

from hypothesis import given, settings
from hypothesis import strategies as st

_VOCAB = ["alpha", "beta", "gamma", "delta", "echo", "foxtrot"]
_doc = st.lists(st.sampled_from(_VOCAB), min_size=3, max_size=10).map(" ".join)


@given(st.lists(_doc, min_size=2, max_size=10))
@settings(max_examples=8, deadline=None)
def test_incremental_equals_batch_cross_pairs(spark, texts):
    """For ANY corpus split into old/new, probing the store must yield
    exactly the (new, old) cross-pairs that full-batch LSH banding finds
    on the union, with the same signature-estimated Jaccard."""
    from pyspark.sql import functions as F

    from language_detection_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = df.filter(F.col("doc_id") % 2 == 0)
    new = df.filter(F.col("doc_id") % 2 == 1)

    got = {
        (r["id_new"], r["id_old"]): r["est_jaccard"]
        for r in incremental_near_dups(
            new, banded_rows(minhash_signatures(old)),
            threshold_est=0.0, max_bucket_size=len(rows),
        ).collect()
    }

    sigs = {r["id"]: r["sig"]
            for r in minhash_signatures(df).collect()}
    cand = lsh_candidate_pairs(
        minhash_signatures(df), max_bucket_size=len(rows)
    ).collect()
    expected = {}
    for r in cand:
        a, b = r["id_a"], r["id_b"]
        if (a % 2) == (b % 2):
            continue  # same side — not a cross pair
        id_new, id_old = (a, b) if a % 2 == 1 else (b, a)
        est = round(
            sum(x == y for x, y in zip(sigs[id_new], sigs[id_old])) / 16, 6
        )
        expected[(id_new, id_old)] = est
    assert got == expected


def test_store_meta_stamped_and_validated(spark, tmp_path):
    """build_sig_store stamps _sig_store_meta.json; probing via
    store_path with a DIFFERENT store_buckets raises instead of silently
    pruning matching rows; appends with a different modulus raise too."""
    import pytest

    from language_detection_spark.operators.dedup import (
        check_sig_store_buckets,
        read_sig_store_meta,
    )

    old, new = _corpus(spark)
    p = str(tmp_path / "sig_meta")
    build_sig_store(old, p, store_buckets=8)
    meta = read_sig_store_meta(spark, p)
    assert meta == {
        "store_buckets": 8, "num_perm": 16, "bands": 4, "shingle_k": 3,
    }
    store = spark.read.parquet(p)
    # matching modulus: fine
    check_sig_store_buckets(spark, p, 8)
    ok = incremental_near_dups(new, store, store_buckets=8, store_path=p)
    assert any(r["id_old"] == 0 for r in ok.collect())
    # wrong modulus via the validated path: hard error
    with pytest.raises(RuntimeError, match="store_buckets"):
        incremental_near_dups(new, store, store_buckets=4, store_path=p)
    with pytest.raises(RuntimeError, match="store_buckets"):
        incremental_near_dups(new, store, store_buckets=None, store_path=p)
    # appends must keep the modulus
    with pytest.raises(RuntimeError, match="store_buckets"):
        build_sig_store(new, p, mode="append", store_buckets=16)
    # bucketed arg against an unbucketed frame: caught even without path
    flat = str(tmp_path / "sig_meta_flat")
    build_sig_store(old, flat)
    with pytest.raises(RuntimeError, match="bh_bucket"):
        incremental_near_dups(
            new, spark.read.parquet(flat), store_buckets=8
        )


def test_compaction_preserves_store_meta(spark, tmp_path):
    from language_detection_spark.operators.dedup import (
        compact_sig_store,
        read_sig_store_meta,
    )

    old, _ = _corpus(spark)
    p = str(tmp_path / "sig_meta_compact")
    build_sig_store(old, p, store_buckets=8)
    compact_sig_store(spark, p)
    assert read_sig_store_meta(spark, p)["store_buckets"] == 8
