"""Tests for dedup, similarity, text-analysis and multimodal operators."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from language_detection_spark.operators.dedup import (
    exact_dedup,
    exact_dup_clusters,
    minhash_dedup_pairs,
    minhash_signatures,
    simhash_near_dup_pairs,
)
from language_detection_spark.operators.multimodal import (
    decode_media,
    extract_features,
    resize_image,
    synth_media_df,
)
from language_detection_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_topk,
)
from language_detection_spark.operators.text_analysis import (
    bpe_token_count,
    fingerprint,
    quality_score,
    stopword_langid,
    whitespace_token_count,
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    other = "completely different content about distributed query engines at scale"
    rows = [
        (0, base), (1, base), (2, near), (3, other), (4, other), (5, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(spark, dup_docs):
    kept = exact_dedup(dup_docs)
    ids = {r.doc_id for r in kept.collect()}
    assert ids == {0, 2, 3, 5}
    clusters = {r.keep_id: r.n_dups for r in exact_dup_clusters(dup_docs).collect()}
    assert clusters == {0: 2, 3: 2}


def test_minhash_pipeline(spark, dup_docs):
    sigs = minhash_signatures(dup_docs, num_perm=16)
    srows = {r.id: r.sig for r in sigs.collect()}
    assert 5 not in srows  # too short for shingles
    assert srows[0] == srows[1]  # identical docs → identical signatures
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_dedup_pairs(dup_docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert pairs[(3, 4)] == 1.0
    assert not any({a, b} == {0, 3} for a, b in pairs)


def test_simhash_near_dup(spark, dup_docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             simhash_near_dup_pairs(dup_docs, max_hamming=6).collect()}
    assert pairs[(0, 1)] == 0
    assert pairs[(3, 4)] == 0
    assert (0, 2) in pairs  # near-dup within hamming 6
    assert not any({a, b} == {0, 3} for a, b in pairs)


@pytest.mark.parametrize("max_hamming,key_chunks", [(3, 1), (8, 1), (3, 2), (8, 2), (8, 3)])
def test_simhash_blocking_full_recall(spark, max_hamming, key_chunks):
    """Pigeonhole guarantee: every pair at Hamming <= h is found, including
    planted worst-case pairs at distance EXACTLY h with differing bits
    spread one-per-chunk (the adversarial placement for blocked LSH)."""
    from language_detection_spark.operators.dedup import (
        _SIMHASH_BITS,
        _simhash_chunks,
        simhash_pairs_from_hashes,
    )

    rng = np.random.default_rng(42)
    base = int(rng.integers(0, 1 << _SIMHASH_BITS))
    rows = [(0, base)]
    # planted worst case: flip one bit in each of h DIFFERENT chunks, so no
    # chunk keeps more than one flipped bit until h+1 chunks run out
    chunks = _simhash_chunks(max_hamming + key_chunks)
    flipped = base
    for off, _w in chunks[:max_hamming]:
        flipped ^= 1 << off
    rows.append((1, flipped))
    # random background docs
    for i in range(2, 40):
        rows.append((i, int(rng.integers(0, 1 << _SIMHASH_BITS))))
    h = spark.createDataFrame(rows, "id bigint, sh bigint")
    got = {(r.id_a, r.id_b) for r in
           simhash_pairs_from_hashes(
               h, max_hamming=max_hamming, key_chunks=key_chunks
           ).collect()}
    # exact all-pairs reference
    want = {
        (a, b)
        for ai, (a, va) in enumerate(rows)
        for b, vb in rows[ai + 1:]
        if bin(va ^ vb).count("1") <= max_hamming
    }
    assert (0, 1) in want  # the planted pair is at distance exactly h
    assert got == want


def test_simhash_col_matches_udf(spark):
    """The Arrow SimHash (production path) is bit-identical to the
    Catalyst expression arbiter on adversarial inputs: empties,
    whitespace-only, repeated tokens (occurrence voting), unicode,
    exact-tie bit votes, and whitespace that Java's ``\\s`` does NOT
    split on (U+3000, U+00A0, \\x1c) while Python's ``str.split`` does."""
    from language_detection_spark.operators.dedup import simhash_udf

    from tests.expr_arbiters import simhash_col

    texts = [
        "",
        "   ",
        "a",
        "a a a",
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog the the",
        "tab\tand\nnewline   runs",
        "héllo wörld ünïcode tokens voilà",
        "x y",  # two tokens → every bit vote is a ±1 pair or a 2/0 split
        " leading and trailing  ",
        "a\u3000b c",                         # ideographic space: one word
        "a\xa0b c",                           # no-break space: one word
        "a\x1cb c",                           # file separator: one word
        "\tlead and trail tabs\t",            # trim keeps tabs: empty fields
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, text string"
    )
    got = {
        r.id: (r.e, r.u)
        for r in df.select(
            "id",
            simhash_col(F.col("text")).alias("e"),
            simhash_udf()(F.col("text")).alias("u"),
        ).collect()
    }
    for i in range(len(texts)):
        e, u = got[i]
        assert e == u, f"text {i} {texts[i]!r}: expr {e} != udf {u}"
    assert got[0][0] == 0 and got[1][0] == 0
    # null text: the expression yields NULL, the UDF pins it to 0
    nul = spark.createDataFrame([(None,)], "text string")
    assert nul.select(simhash_udf()(F.col("text"))).first()[0] == 0


def test_simhash_udf_hashes_each_distinct_token_once(spark, monkeypatch):
    """One md5 per DISTINCT non-empty token of the batch, not one per
    occurrence; the values still match a per-occurrence reference."""
    from language_detection_spark.operators import dedup

    texts = pd.Series([
        "a b a b a", None, "", "   ", "b c\tc", "\tlead tab", "a\u3000b a",
    ])
    md5_prefixes = dedup.md5_prefixes
    hashed = []

    def _recording(strings):
        hashed.extend(strings)
        return md5_prefixes(strings)

    monkeypatch.setattr(dedup, "md5_prefixes", _recording)
    got = dedup.simhash_udf().func(texts)
    tokens = [w for t in texts if t is not None
              for w in dedup.split_words(t) if w]
    assert sorted(hashed) == sorted(set(tokens))

    def _reference(t):
        ws = [w for w in dedup.split_words(t) if w] if t is not None else []
        if not ws:
            return 0
        votes = np.zeros(dedup._SIMHASH_BITS, dtype=np.int64)
        for h in md5_prefixes(ws):
            votes += [1 if h >> j & 1 else -1
                      for j in range(dedup._SIMHASH_BITS)]
        return sum(1 << j for j in range(dedup._SIMHASH_BITS) if votes[j] > 0)

    assert got.tolist() == [_reference(t) for t in texts]


def test_minhash_engines_agree(spark):
    """The Arrow numpy minhash (production path) is bit-identical to the
    Catalyst expression arbiter on adversarial inputs: empties,
    whitespace-only, sub-shingle-length docs, leading/trailing separators
    (Java split keeps both-side empty fields at limit=-1), non-space ASCII
    whitespace (trim strips only 0x20), unicode whitespace that must NOT
    split (U+3000), repeated shingles, and multi-byte tokens."""
    from tests.expr_arbiters import minhash_signatures_expr

    rows = [
        (0, ""),
        (1, "   "),
        (2, None),
        (3, "one two"),                      # < k words → dropped
        (4, "a b c"),                        # exactly one shingle
        (5, "a b c d e f g"),
        (6, "\tlead tab x y"),               # leading empty word survives
        (7, "tail tab x y\t"),               # trailing empty word survives
        (8, "\x0b vt a b c \x0c"),
        (9, "a  b   c    d"),
        (10, "rep rep rep rep rep"),
        (11, "　ideographic space a b"),      # U+3000 is NOT Java \\s
        (12, "héllo wörld 漢字 ünïcode x"),
        (13, "a\nb\nc\nd\ne"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for num_perm in (8, 16):
        a = {
            r.id: r.sig
            for r in minhash_signatures(df, num_perm=num_perm).collect()
        }
        s = {
            r.id: r.sig
            for r in minhash_signatures_expr(df, num_perm=num_perm).collect()
        }
        assert a == s
        assert set(a) == {4, 5, 6, 7, 8, 9, 10, 11, 12, 13}


def test_classify_batch_equals_per_doc():
    """FastLangID.classify_batch (one batched extraction + one model
    lookup) must be BIT-identical to the per-doc score's arbiter —
    labels and confidences — including None/empty/featureless/unicode
    edge docs; classify is the one-document form of the batch."""
    from language_detection_spark.models.factory import load_default_model
    from language_detection_spark.operators.fast_langid import FastLangID
    from tests.kernel_arbiters import fast_langid_classify

    fast = FastLangID(load_default_model())
    texts = [
        "the quick brown fox jumps over the lazy dog",
        None,
        "",
        "   ",
        "das ist ein deutscher satz mit einigen wörtern",
        "ceci est une phrase française assez longue pour être classée",
        "1234567890 !!!",
        "日本語のテキストです、これは分類できるはずです",
        "short",
        "a",
    ]
    langs_b, confs_b = fast.classify_batch(texts)
    for i, t in enumerate(texts):
        if t is None:
            assert langs_b[i] == "unknown" and confs_b[i] == 0.0
            continue
        lang_1, conf_1 = fast_langid_classify(fast, t)
        assert langs_b[i] == lang_1, (i, t)
        assert confs_b[i] == conf_1, (i, t)  # bitwise, not approx
        assert fast.classify(t) == (lang_1, conf_1), (i, t)
        top = [lang for lang, _ in fast.rank(t)[:1]]
        assert top == ([] if lang_1 == "unknown" else [lang_1]), (i, t)


def test_release_tracked_caches_actually_releases(spark, dup_docs):
    """Regression for the weakref leak: operators persist frames the caller
    never holds a reference to; release_tracked_caches must still unpersist
    them (Spark's CacheManager keeps the JVM entry alive regardless of
    Python refs)."""
    from language_detection_spark.plans.caching import release_tracked_caches

    def _stored_ids():
        return {
            info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    release_tracked_caches()  # clean slate for the registry
    before = _stored_ids()  # other fixtures may legitimately hold caches
    minhash_dedup_pairs(dup_docs, threshold=0.5).count()
    # the signature frame was persist_tracked inside the operator and its
    # local reference is gone — a weakref registry would release 0 here
    assert release_tracked_caches() >= 1
    assert _stored_ids() <= before, "tracked cache leaked past release"


@pytest.fixture(scope="module")
def emb_tables(spark):
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((40, 8))
    vecs[1] = vecs[0] * 2.0          # same direction as 0
    vecs[7] = vecs[0] + 0.01 * rng.standard_normal(8)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(100, [float(x) for x in vecs[0]])],
        "query_id bigint, query_vec array<double>",
    )
    return emb, q, vecs


def test_brute_force_topk(spark, emb_tables):
    emb, q, vecs = emb_tables
    rows = brute_force_topk(emb, q, k=3).orderBy("rank").collect()
    assert [r.vec_id for r in rows[:2]] in ([0, 1], [1, 0])  # cosine ties
    assert rows[0].sim == pytest.approx(1.0)
    assert rows[2].vec_id == 7
    # matches numpy exact computation
    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    top = np.argsort(-sims)[:3]
    assert {r.vec_id for r in rows} == set(int(i) for i in top)


def test_lsh_topk_finds_near_neighbors(spark, emb_tables):
    emb, q, _ = emb_tables
    rows = lsh_topk(emb, q, dim=8, k=3, n_planes=6).orderBy("rank").collect()
    got = {r.vec_id for r in rows}
    # near-identical vectors share all hyperplane signs → always candidates
    assert {0, 1, 7} <= got | {0, 1, 7}
    assert 0 in got and 1 in got


def test_two_phase_topk_equals_global_window(spark, emb_tables):
    """Two-phase ranking is exactly the global-window result, and the
    physical plan has no window partitioned by query_id alone (the
    straggler shape at scale: whole corpus into n_queries tasks)."""
    from pyspark.sql.window import Window

    emb, q, _ = emb_tables
    out = brute_force_topk(emb, q, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Window \[.*?partitionBy=\[([^\]]*)\]", plan):
        keys = [k for k in m.group(1).split(", ") if k]
        if len(keys) == 1 and keys[0].startswith("query_id"):
            raise AssertionError(f"global per-query window in plan:\n{m.group(0)}")
    # value parity vs the naive global window
    scored = (
        F.broadcast(q.withColumnRenamed("query_vec", "qv"))
        .crossJoin(emb.withColumnRenamed("embedding", "v").withColumnRenamed("vec_id", "vec_id"))
    )
    from language_detection_spark.operators.similarity import cosine_sim

    scored = scored.withColumn("sim", cosine_sim(F.col("qv"), F.col("v")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    want = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "sim", "rank")
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))


def test_ann_recall_floor(spark):
    """Multi-probe + multi-table LSH recall@5 vs brute force on a CLUSTERED
    fixture — the workload ANN exists for.  (On isotropic-random vectors no
    sublinear method retains recall; that datapoint is documented in
    BENCH/BASELINE.md, measured with this same protocol.)"""
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((40, 16)) * 3.0
    vecs = np.repeat(centers, 10, axis=0) + 0.3 * rng.standard_normal((400, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i * 10]]) for i in range(20)],
        "query_id bigint, query_vec array<double>",
    )
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = lsh_topk(
        emb, q, dim=16, k=5, n_planes=8, probe_hamming=1, n_tables=2
    ).collect()
    want = {(r.query_id, r.vec_id) for r in exact}
    got = {(r.query_id, r.vec_id) for r in approx}
    recall = len(want & got) / len(want)
    assert recall >= 0.8, f"recall@5 = {recall}"


def test_cosine_udf_matches_expression(spark, emb_tables):
    """The batched numpy cosine (embedding near-dup verify path) equals the
    JVM fold expression EXACTLY (no rounding): same element order, same
    IEEE-double ops.  Includes zero vectors (the guarded 0.0 branch)."""
    from language_detection_spark.operators.similarity import (
        cosine_pairs_udf,
        cosine_sim,
    )

    emb, _, _ = emb_tables
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    zero = spark.createDataFrame(
        [(10_000, [0.0] * len(emb.first().embedding))],
        "ia long, va array<double>",
    )
    pairs = a.unionByName(zero).crossJoin(
        b.unionByName(zero.select(F.col("ia").alias("ib"),
                                  F.col("va").alias("vb")))
    )
    d = pairs.select(
        cosine_sim(
            F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")
        ).alias("e"),
        cosine_pairs_udf()(F.col("va"), F.col("vb")).alias("u"),
    )
    assert d.filter(F.col("e") != F.col("u")).count() == 0


def test_embedding_near_dup(spark, emb_tables):
    emb, _, _ = emb_tables
    pairs = {(r.id_a, r.id_b) for r in
             embedding_near_dup_pairs(emb, dim=8, threshold=0.99).collect()}
    assert (0, 1) in pairs
    assert (0, 7) in pairs


def test_text_analysis_columns(spark):
    df = spark.createDataFrame(
        [("the cat and the dog, sat!", ), ("", ), ("le chat est sur le lit", )],
        "text string",
    )
    out = df.select(
        whitespace_token_count(F.col("text")).alias("ws"),
        bpe_token_count(F.col("text")).alias("bpe"),
        fingerprint(F.col("text")).alias("fp"),
        quality_score(F.col("text")).alias("q"),
        stopword_langid(F.col("text")).alias("sl"),
    ).collect()
    assert out[0].ws == 6
    assert out[0].bpe == 8          # 6 words + comma + bang
    assert out[1].ws == 0
    assert out[0].sl == "en"
    assert out[2].sl == "fr"
    assert out[0].fp != out[2].fp
    # fingerprint is order-sensitive
    df2 = spark.createDataFrame([("a b",), ("b a",)], "text string")
    fps = [r.fp for r in df2.select(fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] != fps[1]
    assert 0.0 <= out[0].q <= 1.0


def test_multimodal_plumbing(spark):
    media = synth_media_df(spark, n=30)
    feats = extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 30
    r = rows[0]
    assert len(r.byte_hist) == 8
    assert len(r.feature) == 16
    assert sum(r.byte_hist) in (256, 1024)
    assert all(0.0 <= x <= 1.0 for x in r.feature)
    # determinism across runs
    again = {x.media_id: x.feature for x in extract_features(media, fake=True).collect()}
    for x in rows:
        assert again[x.media_id] == pytest.approx(x.feature)
    # real decode is an explicit stub
    with pytest.raises(NotImplementedError):
        decode_media(b"xx", "image", fake=False)
    with pytest.raises(NotImplementedError):
        resize_image(b"xx", 2, 2)


def test_ivf_recall_floor(spark):
    """IVF recall@5 on the clustered fixture; same protocol as the LSH
    floor test — data-adapted partitions should be at least as good."""
    from language_detection_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(3)
    centers = rng.standard_normal((40, 16)) * 3.0
    vecs = np.repeat(centers, 10, axis=0) + 0.3 * rng.standard_normal((400, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i * 10]]) for i in range(20)],
        "query_id bigint, query_vec array<double>",
    )
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = ivf_topk(emb, q, k=5, n_centroids=16, nprobe=3,
                      sample_n=400).collect()
    want = {(r.query_id, r.vec_id) for r in exact}
    got = {(r.query_id, r.vec_id) for r in approx}
    recall = len(want & got) / len(want)
    assert recall >= 0.8, f"IVF recall@5 = {recall}"


def test_resize_math_and_schedule():
    """The codec-independent transform math: nearest-neighbor resize
    (exact index gather semantics) and frame-sampling schedules."""
    from language_detection_spark.operators.multimodal import (
        resize_nearest,
        sample_frame_indices,
    )

    px = np.arange(36).reshape(6, 6)
    small = resize_nearest(px, 3, 3)
    assert small.shape == (3, 3)
    assert small.tolist() == [[0, 2, 4], [12, 14, 16], [24, 26, 28]]
    up = resize_nearest(px, 12, 12)
    assert up.shape == (12, 12) and up[0, 0] == 0 and up[11, 11] == 35
    # identity resize is exact
    assert (resize_nearest(px, 6, 6) == px).all()
    with pytest.raises(ValueError):
        resize_nearest(px, 0, 3)
    idx = sample_frame_indices(100, 7)
    assert idx.tolist() == list(range(0, 100, 7))
    capped = sample_frame_indices(1000, 1, max_frames=10)
    assert len(capped) == 10 and capped[0] == 0 and capped[-1] == 999
    with pytest.raises(ValueError):
        sample_frame_indices(10, 0)


def test_resize_media_stage(spark):
    from language_detection_spark.operators.multimodal import (
        resize_media,
        synth_media_df,
    )

    media = synth_media_df(spark, n=30)
    out = resize_media(media, out_h=8, out_w=8, fake=True)
    rows = out.collect()
    # only image rows survive; all resized to 8x8 = 64 pixels
    assert len(rows) == 10
    for r in rows:
        assert r.kind == "image" and r.height == 8 and r.width == 8
        assert len(r.pixels) == 64
        assert all(0 <= p <= 255 for p in r.pixels)
    # deterministic across runs
    again = {r.media_id: r.pixels for r in
             resize_media(media, out_h=8, out_w=8, fake=True).collect()}
    assert {r.media_id: r.pixels for r in rows} == again


def test_minhash_semi_filter_path_identical(spark, dup_docs, monkeypatch):
    """The scale-shape verification (broadcast semi-filter on candidate
    ids + persisted set frame) returns exactly the same verified pairs as
    the fused small-scale path; the size threshold picks the path (a
    local-list frame has no size estimate, so only an infinite threshold
    keeps it narrow)."""
    from language_detection_spark.operators import dedup

    def _pairs(min_partitions):
        monkeypatch.setattr(dedup, "_SEMI_FILTER_MIN_PARTITIONS",
                            min_partitions)
        out = minhash_dedup_pairs(dup_docs, threshold=0.5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        return plan, {(r.id_a, r.id_b, round(r.jaccard, 9))
                      for r in out.collect()}

    plain_plan, plain = _pairs(float("inf"))
    semi_plan, semi = _pairs(1)
    assert "LeftSemi" not in plain_plan and "LeftSemi" in semi_plan
    assert plain == semi and plain


def test_ivf_persisted_index_matches_direct_and_prunes(spark, tmp_path):
    """Build-once/query-many IVF: the persisted index returns the same
    top-k as the direct path with identical centroids, and the probe
    filter reaches the parquet scan as a PARTITION filter (only probed
    lists are read — the 100 TB query shape)."""
    from language_detection_spark.operators.similarity import (
        ivf_build_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((10, 16)) * 3.0
    vecs = np.repeat(centers, 20, axis=0) + 0.3 * rng.standard_normal((200, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i * 20]]) for i in range(4)],
        "query_id bigint, query_vec array<double>",
    )
    path = str(tmp_path / "ivf_index")
    C = ivf_build_index(emb, path, n_centroids=8, sample_n=200)
    direct = {
        (r.query_id, r.rank): r.vec_id
        for r in ivf_topk(emb, q, k=5, n_centroids=8, nprobe=2,
                          sample_n=200, centroids=C).collect()
    }
    indexed_df = ivf_topk_indexed(spark, path, q, k=5, nprobe=2)
    indexed = {(r.query_id, r.rank): r.vec_id for r in indexed_df.collect()}
    assert indexed == direct and len(indexed) == 20

    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid" in plan.split(
        "PartitionFilters"
    )[1][:200], plan[:3000]


def test_passage_dedup_semantics(spark):
    """First corpus occurrence of a span survives, later ones drop;
    reconstruction preserves in-doc order; blank docs yield ('', 0, 0);
    partial tail spans dedup like any other."""
    from language_detection_spark.operators.dedup import passage_dedup

    boiler = "all rights reserved contact us"          # one exact 5-word span
    rows = [
        (0, f"{boiler} alpha beta gamma delta epsilon"),
        (1, f"unique opening words here now {boiler}"),   # boiler at pos 2
        (2, "   "),                                       # blank
        (3, f"{boiler}"),                                 # only the boiler
        (4, "short tail"),                                # single partial span
        (5, "short tail"),                                # exact dup of 4
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in passage_dedup(df, k=5).collect()}
    assert len(got) == 6
    assert got[0]["n_dropped"] == 0 and got[0]["text_dedup"] == rows[0][1]
    assert got[1]["n_dropped"] == 1
    assert got[1]["text_dedup"] == "unique opening words here now"
    assert got[2]["n_passages"] == 0 and got[2]["text_dedup"] == ""
    assert got[3]["n_dropped"] == 1 and got[3]["text_dedup"] == ""
    assert got[4]["n_dropped"] == 0 and got[4]["text_dedup"] == "short tail"
    assert got[5]["n_dropped"] == 1 and got[5]["text_dedup"] == ""


def test_canonical_url(spark):
    """URL canonicalization: every documented normalization, plus the
    non-web passthrough, and dup grouping by canonical string."""
    from pyspark.sql import functions as F

    from language_detection_spark.operators.text_analysis import (
        canonical_url,
        url_dup_groups,
    )

    cases = {
        # scheme/host case + www + default port + tracking + sort + frag
        "HTTPS://WWW.Example.COM:443/A/B/?utm_source=x&b=2&a=1#frag":
            "https://example.com/A/B?a=1&b=2",
        "https://example.com/A/B?a=1&b=2": "https://example.com/A/B?a=1&b=2",
        # http default port + trailing slash on bare host
        "HTTP://Example.com:80/": "http://example.com",
        # non-default port survives
        "http://example.com:8080/x": "http://example.com:8080/x",
        # all-tracking query drops the '?'
        "http://a.io/p?gclid=1&fbclid=2": "http://a.io/p",
        # 'ref' is NOT a tracking param (git refs, pagination, sections
        # select distinct resources) — it must survive canonicalization
        "http://a.io/repo?ref=main": "http://a.io/repo?ref=main",
        # non-web input: trimmed lowercase passthrough
        "  Not A URL  ": "not a url",
    }
    df = spark.createDataFrame([(k,) for k in cases], "u string")
    got = {
        r["u"]: r["c"]
        for r in df.select("u", canonical_url(F.col("u")).alias("c")).collect()
    }
    assert got == cases
    groups = {
        r["canonical_url"]: (r["n_variants"], r["first_url"])
        for r in url_dup_groups(
            spark.createDataFrame([(k,) for k in cases], "url string")
        ).collect()
    }
    assert groups["https://example.com/A/B?a=1&b=2"][0] == 2
    assert groups["http://example.com"] == (1, "HTTP://Example.com:80/")


def test_shingle_set_udf_matches_expression(spark):
    """The Arrow shingle-set builder (verification-join path) must equal
    the arbiter's array_distinct(word_shingles(text)) exactly — same
    split/trim semantics, same first-occurrence order — on the same
    adversarial inputs the minhash engine-agreement test uses."""
    from language_detection_spark.operators.dedup import shingle_set_udf

    from tests.expr_arbiters import word_shingles

    rows = [
        (0, ""), (1, "   "), (2, None), (3, "one two"), (4, "a b c"),
        (5, "a b c d e f g"), (6, "\tlead tab x y"), (7, "tail tab x y\t"),
        (8, "\x0b vt a b c \x0c"), (9, "a  b   c    d"),
        (10, "rep rep rep rep rep rep"), (11, "　ideographic space a b"),
        (12, "héllo wörld 漢字 ünïcode x"), (13, "a\nb\nc\nd\ne"),
        (14, "dup trio dup trio dup trio dup trio"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (2, 3):
        got = {
            r.doc_id: (r.e, r.u)
            for r in df.select(
                "doc_id",
                F.array_distinct(word_shingles(F.col("text"), k)).alias("e"),
                shingle_set_udf(k)(F.col("text")).alias("u"),
            ).collect()
        }
        for i, (e, u) in got.items():
            assert list(e or []) == list(u or []), (k, i, e, u)


def test_word_ngram_hash_udf_matches_expression(spark):
    """The Arrow n-gram hasher must equal the arbiter's word_ngram_hashes
    exactly — including NULL text -> NULL array, blank -> [], < n words
    -> [], occurrence order preserved (no dedup in the output)."""
    from language_detection_spark.operators.text_analysis import (
        word_ngram_hash_udf,
    )

    from tests.expr_arbiters import word_ngram_hashes

    rows = [
        (0, ""), (1, "   "), (2, None), (3, "one two"),
        (4, "a b c d e f g"), (5, "\tlead tab x y"), (6, "rep rep rep rep"),
        (7, "a  b   c"), (8, "héllo wörld 漢字 x"), (9, "a\nb\nc"),
        (10, "\x0b vt a b c \x0c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (1, 2, 8):
        got = {
            r.doc_id: (r.e, r.u)
            for r in df.select(
                "doc_id",
                word_ngram_hashes(F.col("text"), n).alias("e"),
                word_ngram_hash_udf(n)(F.col("text")).alias("u"),
            ).collect()
        }
        for i, (e, u) in got.items():
            assert (e is None) == (u is None), (n, i)
            if e is not None:
                assert list(e) == list(u), (n, i, e, u)
