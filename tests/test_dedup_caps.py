"""The bucket cap shared by the dedup candidate generators: a bucket of
exactly ``max_bucket_size`` members survives and one more member drops
it, in all three generators; and ``max_bucket_size=None`` is rejected
while the plan is built, before any Spark job runs."""

import pytest

from language_detection_spark.operators.dedup import (
    banded_rows,
    bh_bucket_col,
    incremental_near_dups,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    simhash_near_dup_pairs,
    simhash_pairs_from_hashes,
)
from language_detection_spark.operators.multimodal import (
    audio_near_dup_pairs,
    image_near_dup_pairs,
    video_near_dup_pairs,
)

CAP = 3


def _pairs(ids):
    return {(a, b) for a in ids for b in ids if a < b}


def test_lsh_bucket_cap_boundary(spark):
    # one band over the whole signature: equal signatures share a bucket
    at_cap = [(i, [7, 7]) for i in range(CAP)]
    over_cap = [(i, [9, 9]) for i in range(10, 10 + CAP + 1)]
    sigs = spark.createDataFrame(at_cap + over_cap, "id long, sig array<bigint>")
    got = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, 1, 2, CAP).collect()
    }
    assert got == _pairs(range(CAP))


def test_simhash_bucket_cap_boundary(spark):
    # max_hamming=0, key_chunks=1: one table keyed on the whole hash
    at_cap = [(i, 5) for i in range(CAP)]
    over_cap = [(i, 6) for i in range(10, 10 + CAP + 1)]
    h = spark.createDataFrame(at_cap + over_cap, "id long, sh long")
    got = {
        (r.id_a, r.id_b)
        for r in simhash_pairs_from_hashes(
            h, max_hamming=0, max_bucket_size=CAP
        ).collect()
    }
    assert got == _pairs(range(CAP))


def test_incremental_bucket_cap_counts_new_and_store_together(spark):
    """1 new + 2 store members (= cap) survive; 2 new + 2 store (cap + 1)
    drop, although each side alone is under the cap."""
    a = "the quick brown fox jumps over the lazy dog"
    b = "completely different words about storage engines and logs"
    old = spark.createDataFrame(
        [(0, a), (1, a), (10, b), (11, b)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(100, a), (110, b), (111, b)], "doc_id long, text string"
    )
    store = banded_rows(minhash_signatures(old))
    got = {
        (r.id_new, r.id_old)
        for r in incremental_near_dups(
            new, store, max_bucket_size=CAP
        ).collect()
    }
    assert got == {(100, 0), (100, 1)}


def _job_ids(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def test_none_cap_raises_before_any_job(spark):
    docs = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    sigs = minhash_signatures(docs)
    h = spark.createDataFrame([(0, 5)], "id long, sh long")
    media = spark.createDataFrame([], "media_id long, payload binary")
    builders = [
        lambda: lsh_candidate_pairs(sigs, 4, 4, None),
        lambda: minhash_dedup_pairs(docs, max_bucket_size=None),
        lambda: simhash_pairs_from_hashes(h, max_bucket_size=None),
        lambda: simhash_near_dup_pairs(docs, max_bucket_size=None),
        # store_buckets: the cap is checked before the store-bucket probe
        # collects the batch's bucket ids
        lambda: incremental_near_dups(
            docs, banded_rows(sigs).withColumn("bh_bucket", bh_bucket_col(8)),
            max_bucket_size=None, store_buckets=8,
        ),
        lambda: image_near_dup_pairs(media, max_bucket_size=None),
        lambda: audio_near_dup_pairs(media, max_bucket_size=None),
        lambda: video_near_dup_pairs(media, max_bucket_size=None),
    ]
    before = _job_ids(spark)
    for build in builders:
        with pytest.raises(ValueError, match="max_bucket_size"):
            build()
    assert _job_ids(spark) == before
