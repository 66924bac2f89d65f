"""The benchmark's workloads.  Each one sets up a Spark session, runs one
timed pass over its input per ``iterate`` call, checks the outputs of the
last pass, and (traced runs only) splits the pass into layers by timing
calls into the engine's public functions.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from language_detection_spark.config import get_spark
from language_detection_spark.models import factory
from language_detection_spark.operators.detector import (
    CantDetectError,
    Detector,
    annotate_batch,
    doc_seed,
)
from language_detection_spark.operators.dedup import minhash_signatures
from language_detection_spark.operators.pipeline import (
    PipelineOptions,
    QualityFilterPipeline,
)
from language_detection_spark.operators.quality import QualityConfig
from language_detection_spark.plans.checkpoint import run_checkpointed

sys.path.insert(0, os.path.join(gen.REPO, "jobs"))
import run_pipeline  # noqa: E402  (the job's dedup stage, called as is)

# output checks: floors and sample sizes
SAMPLE_DOCS = 256          # (url → Spark vs in-process annotate_batch)
FAITHFUL_DOCS = 48         # (Spark top-1 vs the faithful Detector class)
AGREEMENT_FLOOR = 0.9
ACCURACY_FLOOR = 0.9
DEDUP_THRESHOLD = 0.8
RECALL_FLOOR = 0.95


def session(cores: int, work: str, trace: bool):
    """A local session whose scratch, warehouse and event log stay in
    ``work``; the event log is written (uncompressed) only when traced."""
    tmp = os.path.join(work, "tmp")
    # a fixed, pre-touched heap: the JVM's resident size then no longer
    # depends on when G1 grows the heap, which moved peak_rss_mb by 9%
    # between runs of the same code.  The JVM's share of peak_rss_mb is
    # therefore this setting; jvm.peak_heap_mb (traced) is the heap used
    heap = os.environ["SPARK_DRIVER_MEM"]
    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} "
            "-XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": log_dir,
                      "spark.eventLog.compress": "false",
                      # peak executor metrics (used heap) per stage, polled
                      # often enough to see a pass's peak
                      "spark.eventLog.logStageExecutorMetrics": "true",
                      "spark.executor.metrics.pollingInterval": "100ms"})
    spark = get_spark("perfbench", cores=cores, **extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _check(checks: list, name: str, ok: bool, detail) -> None:
    checks.append({"check": name, "ok": bool(ok), "detail": detail})


def timed(fn):
    """(fn(), seconds it took)."""
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class FilterDistinct:
    """The production job shape: annotate under run_checkpointed (256
    buckets, 4 x cores salted repartition, text column dropped),
    writing parquet data and audit rows, over distinct multilingual pages."""

    corpus = "distinct"
    n_docs = 12_000
    cfg = QualityConfig(lang_allow=("en",), min_stopword_hits=1)
    n_buckets = 256
    # one chunk: every chunk adds a write and an audit job of fixed cost,
    # and at this input size four chunks (the job's default of 64) made a
    # warm pass take 20 s, longer than a run can spend
    chunk = 256

    def __init__(self, input_dir: str, work: str, cores: int, seed: int):
        self.input_dir, self.work, self.cores, self.seed = (
            input_dir, work, cores, seed)
        self.last_out = None

    def setup(self, spark) -> None:
        """Model, pipeline and one small warm-up action, which forks the
        Python workers and deserializes the model broadcast."""
        self.spark = spark
        factory._MODEL_CACHE.clear()     # every set-up pays the load
        self.model, self.models_load_s = timed(factory.load_default_model)
        self.pipe = QualityFilterPipeline(
            spark, self.model, self.cfg,
            PipelineOptions(n_buckets=self.n_buckets,
                            repartition=4 * self.cores))
        self.pages = spark.read.parquet(self.input_dir)
        self.pipe.run(self.pages.limit(64)).write.format("noop").mode(
            "overwrite").save()

    def iterate(self, k: int) -> dict:
        out = os.path.join(self.work, f"out-{k}")
        summary = run_checkpointed(
            self.pages, out, n_buckets=self.n_buckets, chunk_size=self.chunk,
            annotate=self.pipe.annotate, drop_columns=("text",))
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        return summary

    # -- checks ---------------------------------------------------------
    def _input(self) -> dict[str, tuple[str, str]]:
        t = pq.read_table(self.input_dir, columns=["url", "text", "lang"])
        return dict(zip(t["url"].to_pylist(),
                        zip(t["text"].to_pylist(), t["lang"].to_pylist())))

    def check(self, digests: dict) -> list[dict]:
        checks: list[dict] = []
        src = self._input()
        data = self.spark.read.parquet(f"{self.last_out}/data")
        audit = self.spark.read.parquet(f"{self.last_out}/audit")
        row = data.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("url").alias("urls"),
            F.avg((F.col("lang") == F.col("lang_src")).cast("double")).alias("acc"),
            F.bit_xor(F.xxhash64("url", "lang", "keep")).alias("digest"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
        ).first()
        rows_in = audit.agg(F.sum("rows_in")).first()[0]
        _check(checks, "every doc committed once",
               row.n == row.urls == rows_in == len(src),
               {"rows": row.n, "urls": row.urls, "audit_rows_in": rows_in})
        _check(checks, "accuracy vs generator labels",
               row.acc >= ACCURACY_FLOOR,
               {"accuracy": row.acc, "floor": ACCURACY_FLOOR})
        self.kept_frac = row.kept / row.n
        key = f"filter_distinct:{self.seed}:{self.n_docs}"
        digest = format(row.digest & (2**64 - 1), "016x")
        self.digest = digest
        pinned = digests.get(key)
        _check(checks, "digest of (url, lang, keep)",
               pinned is None or pinned == digest,
               {"digest": digest, "pinned": pinned})

        urls = random.Random(self.seed).sample(sorted(src), SAMPLE_DOCS)
        got = {r.url: (r.lang, r.lang_conf, r.ppl) for r in
               data.filter(F.col("url").isin(urls))
               .select("url", "lang", "lang_conf", "ppl").collect()}
        texts = [src[u][0] for u in urls]
        langs, confs, ppl = annotate_batch(
            self.model, texts, [doc_seed(u) for u in urls])
        bad = [u for u, l, c, p in zip(urls, langs, confs, ppl)
               if got.get(u) != (l, float(c), None if np.isnan(p) else float(p))]
        _check(checks, "Spark annotate == in-process annotate_batch",
               not bad, {"sample": len(urls), "mismatched": bad[:5]})

        agree = 0
        for u in urls[:FAITHFUL_DOCS]:
            d = Detector(self.model, seed=doc_seed(u))
            d.append(src[u][0])
            try:
                lang = d.detect()
            except CantDetectError:
                lang = "unknown"
            agree += lang == got.get(u, (None,))[0]
        _check(checks, "top-1 agreement with the faithful Detector",
               agree / FAITHFUL_DOCS >= AGREEMENT_FLOOR,
               {"agreement": agree / FAITHFUL_DOCS, "docs": FAITHFUL_DOCS,
                "floor": AGREEMENT_FLOOR})
        return checks


class DedupSkew:
    """exact_dedup -> minhash_dedup_pairs -> connected_components -> one
    min-url representative per cluster: the filter job's dedup stage in
    ``cc`` mode, run as the job runs it, over a skew corpus."""

    corpus = "skew"
    n_docs = 30_000

    def __init__(self, input_dir: str, work: str, cores: int, seed: int):
        # the job reads <root>/data and writes <root>/dedup
        self.root = os.path.join(work, "job")
        os.makedirs(self.root, exist_ok=True)
        os.symlink(input_dir, os.path.join(self.root, "data"))
        self.input_dir, self.work, self.cores, self.seed = (
            input_dir, work, cores, seed)

    def setup(self, spark) -> None:
        """One small warm-up action, which forks the Python workers."""
        self.spark = spark
        sigs = minhash_signatures(spark.read.parquet(self.input_dir).limit(64),
                                  "scrubbed_text", "url")
        sigs.write.format("noop").mode("overwrite").save()

    def iterate(self, k: int) -> dict:
        return run_pipeline._dedup_stage(
            self.spark, self.root, f"iter-{k}", DEDUP_THRESHOLD, mode="cc")

    def check(self, digests: dict) -> list[dict]:
        checks: list[dict] = []
        t = pq.read_table(self.input_dir, columns=["url", "scrubbed_text"])
        urls = t["url"].to_pylist()
        text = dict(zip(urls, t["scrubbed_text"].to_pylist()))
        pairs = pq.read_table(f"{self.root}/dedup/pairs").to_pylist()
        survivors = set(pq.read_table(f"{self.root}/dedup/docs",
                                      columns=["url"])["url"].to_pylist())

        def shingles(s):
            w = s.strip(" ").split()
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

        low = []
        for p in pairs:
            a, b = shingles(text[p["id_a"]]), shingles(text[p["id_b"]])
            if len(a & b) / len(a | b) < DEDUP_THRESHOLD:
                low.append((p["id_a"], p["id_b"]))
        _check(checks, "every pair's shingle Jaccard >= threshold", not low,
               {"pairs": len(pairs), "below": low[:5]})

        lay = gen.skew_layout(self.n_docs)
        found = {(p["id_a"], p["id_b"]) for p in pairs}
        found |= {(b, a) for a, b in found}
        planted = [(urls[i], urls[j]) for i, j in lay["pairs"]]
        recall = sum(pr in found for pr in planted) / len(planted)
        _check(checks, "planted-pair recall", recall >= RECALL_FLOOR,
               {"recall": recall, "planted": len(planted),
                "floor": RECALL_FLOOR})

        e0, e1 = lay["exact_hub"]
        hub_left = [u for u in urls[e0:e1] if u in survivors]
        _check(checks, "byte-identical hub leaves one representative",
               hub_left == [min(urls[e0:e1])], {"left": len(hub_left)})

        # components of the pair graph, rebuilt here with union-find
        parent: dict[str, str] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for p in pairs:
            ra, rb = find(p["id_a"]), find(p["id_b"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comps: dict[str, list[str]] = {}
        for u in list(parent):
            comps.setdefault(find(u), []).append(u)
        wrong = [r for r, m in comps.items()
                 if [u for u in m if u in survivors] != [min(m)]]
        expect = len(urls) - (e1 - e0 - 1) - sum(
            len(m) - 1 for m in comps.values())
        _check(checks, "one min-url representative per component",
               not wrong and len(survivors) == expect,
               {"components": len(comps), "wrong": wrong[:5],
                "survivors": len(survivors), "expected": expect})
        return checks


WORKLOADS = {"filter_distinct": FilterDistinct, "dedup_skew": DedupSkew}
