"""DataFrame-level end-to-end tests: pages synthesis, extraction invariant,
quality pipeline, audit + checkpoint/resume, trainer, eval aggregations
(SURVEY.md §5 test plan items 3-5)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from language_detection_spark.models.trainer import (
    gram_counts,
    train_model,
    train_profiles,
)
from language_detection_spark.models.profile import LangProfile
from language_detection_spark.operators.eval import (
    confusion_counts,
    overall_accuracy,
    per_language_accuracy,
)
from language_detection_spark.operators.pipeline import (
    PipelineOptions,
    QualityFilterPipeline,
)
from language_detection_spark.operators.quality import QualityConfig
from language_detection_spark.plans.checkpoint import (
    committed_buckets,
    run_checkpointed,
)
from language_detection_spark.sources.pages import (
    extract_text,
    render_html,
    synth_pages_df,
)


def test_extract_text_goldens():
    # frozen extractor semantics — any change here is a format break
    assert extract_text("<p>Hello <b>world</b></p>") == "Hello world"
    assert extract_text("<script>var x = '<p>';</script>after") == "after"
    assert (
        extract_text("a<style type='text/css'>p { color: red }</style>b") == "a b"
    )
    assert extract_text("<!-- c -->x &amp; y &lt;z&gt;") == "x & y <z>"
    assert extract_text("  a\n\n\tb  ") == "a b"
    assert extract_text(None) == ""
    assert extract_text("<p>héllo</p>".encode()) == "héllo"


def test_render_extract_roundtrip():
    html = render_html(7, "Some article text & more.")
    got = extract_text(html)
    assert "Some article text & more." in got
    assert "Home About" in got  # nav boilerplate survives extraction
    assert "var page_id" not in got  # script stripped
    assert "margin" not in got  # style stripped


def test_synth_pages(spark, sf_dir):
    pages = synth_pages_df(spark, sf_dir)
    rows = pages.collect()
    assert len(rows) > 0
    r = rows[0]
    assert r.url.startswith("https://example.org/")
    assert isinstance(r.html, (bytes, bytearray))
    # the table invariant: text == extract_text(html), byte-identical
    for row in rows[:20]:
        assert extract_text(row.html) == row.text


@pytest.fixture(scope="module")
def multilingual_pages(spark):
    data = []
    texts = {
        "en": "the cat and the dog have a long history of friendship and that is that. "
        "we have to be honest about the data and the facts of the matter with care. ",
        "fr": "le chat et le chien sont amis depuis longtemps et c'est la vérité vraie. "
        "il faut être honnête avec les données et les faits de cette affaire. ",
        "de": "die katze und der hund sind seit langem freunde und das ist die wahrheit. "
        "wir müssen ehrlich mit den daten und den fakten dieser sache umgehen. ",
    }
    for i in range(60):
        lang = ["en", "fr", "de"][i % 3]
        body = texts[lang] * 6  # ≥ 50 words
        if i % 10 == 9:
            body = "short text"  # violates min_words
        if i % 10 == 5:
            body += " contact me at john.doe@example.com or 192.168.0.1 please"
        data.append((f"https://site{i % 7}.example/{i}", i, body, lang))
    pdf = pd.DataFrame(data, columns=["url", "secs", "text", "lang"])
    df = spark.createDataFrame(pdf).select(
        "url",
        (F.to_timestamp(F.lit("2024-01-01")) + F.make_interval(secs=F.col("secs"))).alias(
            "warc_ts"
        ),
        "text",
        "lang",
    )
    return df


def test_pipeline_annotate_and_filter(spark, tiny_model, multilingual_pages):
    cfg = QualityConfig(
        lang_allow=("en", "fr", "de"),
        lang_conf_min=0.5,
        min_words=50,
        min_stopword_hits=0,
        alpha_word_frac_min=0.5,
        mean_word_len_min=2.0,
    )
    pipe = QualityFilterPipeline(
        spark, tiny_model, cfg, PipelineOptions(n_buckets=8, repartition=8)
    )
    ann = pipe.annotate(multilingual_pages).cache()
    rows = {r.url: r for r in ann.collect()}
    # language detection matches source labels on the clean long docs
    correct = sum(
        1 for r in rows.values() if r.stat_n_words >= 50 and r.lang == r.lang_src
    )
    long_docs = sum(1 for r in rows.values() if r.stat_n_words >= 50)
    assert correct / long_docs >= 0.95
    # short docs violate min_words and are dropped
    for r in rows.values():
        if r.stat_n_words < 50:
            assert r.rule_too_few_words and not r.keep
    # PII scrubbed
    pii = [r for r in rows.values() if "@" in (r.text or "")]
    assert pii
    for r in pii:
        assert "<EMAIL>" in r.scrubbed_text
        assert "@" not in r.scrubbed_text
        assert "<IP>" in r.scrubbed_text
    out = pipe.run(multilingual_pages)
    assert 0 < out.count() < multilingual_pages.count()
    assert set(out.columns) == {
        "url", "warc_ts", "lang", "lang_conf", "ppl", "scrubbed_text"
    }
    ann.unpersist()


_CKPT_CFG = QualityConfig(lang_allow=("en", "fr", "de"), min_words=10,
                          min_stopword_hits=0, alpha_word_frac_min=0.5,
                          mean_word_len_min=2.0)


def test_checkpoint_resume(spark, tiny_model, multilingual_pages, tmp_path):
    pipe = QualityFilterPipeline(spark, tiny_model, _CKPT_CFG,
                                 PipelineOptions(n_buckets=8))
    out = str(tmp_path / "out")
    # crash after 2 chunks of 2 buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(multilingual_pages, out, n_buckets=8, chunk_size=2,
                         fail_after_chunks=2, annotate=pipe.annotate)
    done = committed_buckets(spark, out)
    assert len(done) == 4
    # resume completes the rest; no duplicates afterwards
    summary = run_checkpointed(multilingual_pages, out, n_buckets=8,
                               chunk_size=2, annotate=pipe.annotate)
    assert summary["buckets_previously_committed"] == 4
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == multilingual_pages.count()
    assert data.select("url").distinct().count() == multilingual_pages.count()
    audit = spark.read.parquet(f"{out}/audit")
    committed = {r.bucket for r in audit.collect()}
    assert committed == set(range(8))
    # audit totals reconcile with data
    tot = audit.agg(F.sum("rows_in"), F.sum("rows_kept")).first()
    assert tot[0] == data.count()
    assert tot[1] == data.filter(F.col("keep")).count()


def test_checkpoint_rerun_commits_empty_buckets(spark, tiny_model,
                                                multilingual_pages, tmp_path):
    """A bucket that receives no rows still commits (an audit row with
    rows_in 0), so re-running a finished job writes nothing — also when
    the first chunk is all empty and its write leaves no file to read."""
    from language_detection_spark.plans.repartition import bucket_col

    pipe = QualityFilterPipeline(spark, tiny_model, _CKPT_CFG,
                                 PipelineOptions(n_buckets=64))
    pages = multilingual_pages.filter(bucket_col("url", 64) >= 16)
    out = str(tmp_path / "out")
    first = run_checkpointed(pages, out, n_buckets=64, chunk_size=16,
                             annotate=pipe.annotate)
    assert first["buckets_committed_now"] == 64
    data = spark.read.parquet(f"{out}/data")
    with_rows = {r.bucket for r in data.select("bucket").distinct().collect()}
    assert min(with_rows) >= 16 and len(with_rows) < 48
    rerun = run_checkpointed(pages, out, n_buckets=64, chunk_size=16,
                             annotate=pipe.annotate)
    assert rerun["buckets_previously_committed"] == 64
    assert rerun["buckets_committed_now"] == 0
    audit = spark.read.parquet(f"{out}/audit")
    rows = {r.bucket: r for r in audit.collect()}
    assert len(rows) == audit.count() == 64
    for b, r in rows.items():
        assert (r.rows_in > 0) == (b in with_rows), b
        assert r.run_id == first["run_id"]
    tot = audit.agg(F.sum("rows_in"), F.sum("rows_kept")).first()
    assert tot[0] == data.count() == pages.count() > 0
    assert tot[1] == data.filter(F.col("keep")).count()


def test_checkpoint_annotate_per_chunk(spark, tiny_model, multilingual_pages,
                                       tmp_path):
    """annotate-mode: each chunk's annotate() call sees ONLY that chunk's
    rows (the bucket filter runs on raw pages, below the detector UDF) and
    the union of chunk inputs covers every row exactly once — i.e. the
    detector cost is O(n), not O(n × n_chunks)."""
    pipe = QualityFilterPipeline(spark, tiny_model, _CKPT_CFG,
                                 PipelineOptions(n_buckets=8))
    seen_counts: list[int] = []
    seen_urls: list[set] = []
    write_tasks: list[int] = []

    def counting_annotate(df):
        seen_counts.append(df.count())
        seen_urls.append({r.url for r in df.select("url").collect()})
        out = pipe.annotate(df)
        write_tasks.append(out.rdd.getNumPartitions())
        return out

    out = str(tmp_path / "out")
    summary = run_checkpointed(
        multilingual_pages, out, n_buckets=8, chunk_size=2,
        annotate=counting_annotate,
    )
    n_total = multilingual_pages.count()
    assert len(seen_counts) == 4                      # 8 buckets / chunk 2
    assert sum(seen_counts) == n_total                # once per row, total
    assert max(seen_counts) < n_total                 # never the full input
    all_urls = set().union(*seen_urls)
    assert len(all_urls) == n_total                   # disjoint cover
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == n_total
    assert summary["buckets_committed_now"] == 8
    # each chunk is written flat into one directory of its own, by its
    # annotate tasks (no file per bucket): a bucket's rows lie in exactly
    # one chunk directory, a chunk has at most one file per write task,
    # and the audit names the chunk and reconciles with the data
    dirs = sorted((tmp_path / "out" / "data").glob("chunk=*"))
    assert len(dirs) == 4
    audit = spark.read.parquet(f"{out}/audit")
    chunk_of = {r.bucket: r.chunk for r in audit.collect()}
    assert set(chunk_of) == set(range(8))
    assert {f"chunk={c}" for c in chunk_of.values()} == {d.name for d in dirs}
    placed = data.groupBy("bucket").agg(
        F.collect_set("chunk").alias("chunks")).collect()
    for r in placed:
        assert r.chunks == [chunk_of[r.bucket]], r.bucket
    for i, tasks in enumerate(write_tasks):           # chunk i = [2i, 2i+1]
        d = tmp_path / "out" / "data" / f"chunk={chunk_of[2 * i]}"
        assert 1 <= len(list(d.glob("part-*.parquet"))) <= tasks, d.name
    # a chunk's audit rows land as one file: its append is all or nothing
    assert len(list((tmp_path / "out" / "audit").glob("part-*.parquet"))) == 4
    tot = audit.agg(F.sum("rows_in"), F.sum("rows_kept")).first()
    assert tot[0] == n_total
    assert tot[1] == data.filter(F.col("keep")).count()


def test_checkpoint_crash_before_audit_commit(spark, tiny_model,
                                              multilingual_pages, tmp_path,
                                              monkeypatch):
    """A crash between a chunk's data write and its audit append leaves an
    uncommitted chunk directory; resume deletes it and writes the chunk
    again, so every url lands once and the audit equals the data."""
    from language_detection_spark.plans import checkpoint

    pipe = QualityFilterPipeline(spark, tiny_model, _CKPT_CFG,
                                 PipelineOptions(n_buckets=8))
    out = str(tmp_path / "out")
    real_audit = checkpoint._chunk_audit
    calls = []

    def audit_lost_once(*args):
        calls.append(args)
        if len(calls) == 2:
            raise RuntimeError("audit append lost")
        return real_audit(*args)

    monkeypatch.setattr(checkpoint, "_chunk_audit", audit_lost_once)
    with pytest.raises(RuntimeError, match="audit append lost"):
        run_checkpointed(multilingual_pages, out, n_buckets=8, chunk_size=4,
                         annotate=pipe.annotate)
    orphan = tmp_path / "out" / "data" / f"chunk={calls[1][3]}"
    assert orphan.is_dir()
    assert committed_buckets(spark, out) == {0, 1, 2, 3}

    summary = run_checkpointed(multilingual_pages, out, n_buckets=8,
                               chunk_size=4, annotate=pipe.annotate)
    assert summary["buckets_previously_committed"] == 4
    assert summary["buckets_committed_now"] == 4
    assert not orphan.exists()
    assert len(list((tmp_path / "out" / "data").glob("chunk=*"))) == 2
    data = spark.read.parquet(f"{out}/data")
    n_total = multilingual_pages.count()
    assert data.count() == data.select("url").distinct().count() == n_total
    per_bucket = {
        r.bucket: (r.n, r.kept) for r in data.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("long")).alias("kept")).collect()
    }
    audit = {r.bucket: (r.rows_in, r.rows_kept)
             for r in spark.read.parquet(f"{out}/audit").collect()}
    assert set(audit) == set(range(8))
    for b in range(8):
        assert audit[b] == per_bucket.get(b, (0, 0)), b


def test_checkpoint_rejects_older_layout(spark, tmp_path):
    """An output directory of the older per-bucket layout fails loudly,
    before anything is written or deleted."""
    def never(df):
        raise AssertionError("annotate ran on a mismatched layout")

    pages = spark.range(4).select(
        F.concat(F.lit("https://x.example/"), F.col("id").cast("string"))
        .alias("url"))
    old_data = str(tmp_path / "a")
    spark.range(4).withColumn("bucket", (F.col("id") % 2).cast("int")) \
        .write.partitionBy("bucket").parquet(f"{old_data}/data")
    with pytest.raises(ValueError, match="bucket=.*layout"):
        run_checkpointed(pages, old_data, n_buckets=2, annotate=never)
    assert sorted(p.name for p in (tmp_path / "a" / "data").iterdir()
                  if not p.name.startswith(("_", "."))) == [
        "bucket=0", "bucket=1"]

    old_audit = str(tmp_path / "b")
    spark.range(2).select(F.col("id").cast("int").alias("bucket")) \
        .write.parquet(f"{old_audit}/audit")
    with pytest.raises(ValueError, match="no chunk column.*layout"):
        run_checkpointed(pages, old_audit, n_buckets=2, annotate=never)
    assert not (tmp_path / "b" / "data").exists()


def test_checkpoint_leaves_session_conf_and_reads_typed(spark, tiny_model,
                                                        multilingual_pages,
                                                        tmp_path):
    """run_checkpointed sets nothing on the caller's session, and the data
    directory reads back with ``bucket`` an int and ``chunk`` a string,
    also for a run id that would make a chunk id look like a date."""
    key = "spark.sql.sources.partitionOverwriteMode"
    pipe = QualityFilterPipeline(spark, tiny_model, _CKPT_CFG,
                                 PipelineOptions(n_buckets=32))
    out = str(tmp_path / "out")
    spark.conf.set(key, "STATIC")
    try:
        run_checkpointed(multilingual_pages, out, n_buckets=32,
                         chunk_size=16, run_id="2024-01",
                         annotate=pipe.annotate)
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.unset(key)
    types = dict(spark.read.parquet(f"{out}/data").dtypes)
    assert types["bucket"] == "int"
    assert types["chunk"] == "string"


def test_trainer_matches_local_update(spark):
    texts = [
        "the quick brown fox",
        "jumps over the lazy dog",
        "pack my box with five dozen jugs",
    ]
    df = spark.createDataFrame(pd.DataFrame({"text": texts, "lang": ["xx"] * 3}))
    profiles = train_profiles(spark, df, trim=False)
    assert len(profiles) == 1
    got = profiles[0]
    want = LangProfile("xx")
    for t in texts:
        want.update(t)
    assert got.freq == want.freq
    assert got.n_words == want.n_words


def test_train_detect_roundtrip(spark, multilingual_pages):
    model = train_model(spark, multilingual_pages.filter(F.length("text") > 100))
    assert sorted(model.langs) == ["de", "en", "fr"]
    from language_detection_spark.operators.detector import detect_batch

    texts = [
        "the dog and the cat have the data",
        "le chien et le chat sont amis",
        "die katze und der hund sind freunde",
    ]
    langs, _, _ = detect_batch(model, texts, seeds=[1, 2, 3])
    assert langs == ["en", "fr", "de"]


def test_eval_aggregations(spark):
    pdf = pd.DataFrame(
        {
            "lang": ["en", "en", "en", "fr", "fr", "de"],
            "pred": ["en", "en", "fr", "fr", "fr", "en"],
        }
    )
    df = spark.createDataFrame(pdf)
    cc = {(r.lang, r.pred): r.n for r in confusion_counts(df).collect()}
    assert cc == {("en", "en"): 2, ("en", "fr"): 1, ("fr", "fr"): 2, ("de", "en"): 1}
    acc = {r.lang: r.accuracy for r in per_language_accuracy(df).collect()}
    assert acc["en"] == pytest.approx(2 / 3)
    assert acc["fr"] == 1.0
    assert acc["de"] == 0.0
    overall = overall_accuracy(df).first()
    assert overall.n_docs == 6
    assert overall.accuracy == pytest.approx(4 / 6)


def test_pipeline_langid_v3_engine(spark, tiny_model, multilingual_pages):
    """The fast-path engine produces the same keep/drop shape (lang labels
    from the real langid model; rules identical)."""
    cfg = QualityConfig(
        lang_allow=("en", "fr", "de"), lang_conf_min=0.5, min_words=50,
        min_stopword_hits=0, alpha_word_frac_min=0.5, mean_word_len_min=2.0,
    )
    pipe = QualityFilterPipeline(
        spark, tiny_model, cfg,
        PipelineOptions(n_buckets=8, engine="langid_v3"),
    )
    rows = {r.url: r for r in pipe.annotate(multilingual_pages).collect()}
    long_docs = [r for r in rows.values() if r.stat_n_words >= 50]
    correct = sum(1 for r in long_docs if r.lang == r.lang_src)
    assert correct / len(long_docs) >= 0.95


def test_whole_file_scan_detect(spark, tiny_model, tmp_path):
    """S6: one file = one document = one detection (--detectlang shape)."""
    from language_detection_spark.sources.files import detect_files, read_whole_files

    d = tmp_path / "files_in"
    d.mkdir()
    (d / "en.txt").write_text(
        "This is a plain English document.\nIt has several lines of text "
        "that all belong to one single file and one detection.\n"
    )
    (d / "fr.txt").write_text(
        "Ceci est un document français.\nIl contient plusieurs lignes qui "
        "appartiennent toutes au même fichier.\n"
    )
    files = read_whole_files(spark, str(d))
    rows = {r.path.rsplit("/", 1)[-1]: r.text for r in files.collect()}
    assert set(rows) == {"en.txt", "fr.txt"}
    assert "several lines" in rows["en.txt"]  # newlines preserved, one row
    out = {r.path.rsplit("/", 1)[-1]: r.lang
           for r in detect_files(spark, str(d), tiny_model).collect()}
    assert out["en.txt"] == "en"
    assert out["fr.txt"] == "fr"


def test_run_pipeline_dedup_stage(spark, tmp_path):
    """The jobs/run_pipeline.py --dedup stage end-to-end on a corpus with
    planted exact and near duplicates among the KEPT rows: exact groups
    collapse to the min-url representative, near-dups drop the larger-url
    side, and the dedup audit row reconciles with the written outputs."""
    import sys as _sys
    from pathlib import Path as _P

    _sys.path.insert(0, str(_P(__file__).resolve().parents[1] / "jobs"))
    import run_pipeline as rp

    import random

    pool = ("the of and to in for with on that this council committee "
            "proposal regulation market report member states policy trade "
            "energy water health safety transport budget program article "
            "measures support development research europe citizens rules "
            "directive framework review annual").split()

    def doc_text(i):
        r = random.Random(1000 + i)
        words = pool[:]
        r.shuffle(words)
        first = list(words)
        r.shuffle(words)
        return " ".join(first + words)  # ~80 words, distinct order per doc

    rows = []
    for i in range(12):
        rows.append((f"https://a{i:02d}.example/x", doc_text(i)))
    # exact dups of doc a00 (scrubbed text identical)
    rows.append(("https://z-exact1.example/x", doc_text(0)))
    rows.append(("https://z-exact2.example/x", doc_text(0)))
    # near dup of a01 (one word appended)
    rows.append(("https://z-near.example/x", doc_text(1) + " extra"))
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(rows, columns=["url", "text"])
    pages = spark.createDataFrame(pdf).select(
        "url", F.to_timestamp(F.lit("2024-01-01")).alias("warc_ts"), "text",
        F.lit("en").alias("lang"),
    )
    out = str(tmp_path / "rp_out")

    from language_detection_spark.models.factory import load_default_model
    from language_detection_spark.operators.pipeline import (
        PipelineOptions,
        QualityFilterPipeline,
    )
    from language_detection_spark.operators.quality import QualityConfig
    from language_detection_spark.plans.checkpoint import run_checkpointed

    model = load_default_model()
    pipe = QualityFilterPipeline(
        spark, model, QualityConfig(lang_allow=("en",), min_stopword_hits=1),
        PipelineOptions(n_buckets=4),
    )
    summary = run_checkpointed(pages, out, n_buckets=4, chunk_size=4,
                               annotate=pipe.annotate)
    res = rp._dedup_stage(spark, out, summary["run_id"], threshold=0.8)

    kept = spark.read.parquet(f"{out}/data").filter("keep")
    assert res["rows_kept"] == kept.count()
    # the two exact copies of a00 are gone after exact dedup
    assert res["after_exact_dedup"] == res["rows_kept"] - 2
    docs = {r.url for r in spark.read.parquet(f"{out}/dedup/docs").collect()}
    assert "https://a00.example/x" in docs          # min-url representative
    assert "https://z-exact1.example/x" not in docs
    assert "https://z-exact2.example/x" not in docs
    assert "https://a01.example/x" in docs
    assert "https://z-near.example/x" not in docs   # near-dup loser (larger url)
    assert res["rows_final"] == len(docs)
    audit = spark.read.parquet(f"{out}/dedup/audit").first()
    assert audit.rows_final == res["rows_final"]
    assert audit.near_dup_pairs == res["near_dup_pairs"] >= 1
