"""Per-layer metrics of a traced run.

The measured passes ran with the Spark event log on; this module reads it
(stage totals, the Arrow Python crossing's SQL metrics and the JVM's peak
used heap, per pass) and
then times calls into the engine's public functions layer by layer:

* filter_distinct — an in-process, single-thread replay of 4096 docs
  drawn from the input, in batches of the size each task of the pass
  sends across the Arrow crossing (normalize, gram keys, detector,
  perplexity, annotate_batch end to end), which is also the
  single-threaded baseline; the annotate and rules+scrub legs as their own
  noop actions; the checkpoint summary of each pass.
* dedup_skew — each public dedup stage materialized in turn.

Every traced run reports every per_layer metric of BENCHMARK.json; a
layer the workload does not run reports 0.
"""

from __future__ import annotations

import os
import pickle
import random
import statistics

import numpy as np
from pyspark.sql import functions as F

import eventlog
from workloads import DEDUP_THRESHOLD, timed

_MB = 1 << 20
REPLAY_DOCS = 4096          # replay sample: one maxRecordsPerBatch of docs


def _noop(df) -> float:
    return timed(lambda: df.write.format("noop").mode("overwrite").save())[1]


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / _MB


def replay(model, texts: list[str], urls: list[str],
           batch: int) -> dict[str, float]:
    """Single-thread replay of ``texts`` through the annotate body, in
    batches of ``batch`` docs."""
    from language_detection_spark.config import MAX_TEXT_LENGTH, UNKNOWN_LANG
    from language_detection_spark.functions.ngram import extract_gram_keys_batch
    from language_detection_spark.functions.normalize import (
        prepare_text,
        purge_latin_if_minor,
    )
    from language_detection_spark.operators.detector import annotate_batch, doc_seed
    from language_detection_spark.operators.perplexity import (
        perplexity_many_from_keys,
    )

    ix = {lang: i for i, lang in enumerate(model.langs)}
    out = dict.fromkeys(("norm", "ngram", "ppl", "annotate", "keys",
                         "distinct"), 0.0)
    for lo in range(0, len(texts), batch):
        part, seeds = texts[lo:lo + batch], [doc_seed(u) for u in
                                             urls[lo:lo + batch]]
        uniq = list(dict.fromkeys(part))
        prepared, norm_s = timed(lambda: [
            purge_latin_if_minor(prepare_text(t, MAX_TEXT_LENGTH))
            for t in uniq])
        keys, ngram_s = timed(lambda: extract_gram_keys_batch(prepared))
        by_text = dict(zip(uniq, keys))
        keys_list = [by_text[t] for t in part]
        (langs, _, _), annotate_s = timed(
            lambda: annotate_batch(model, part, seeds))
        lang_idx = np.array([ix[l] if l != UNKNOWN_LANG else -1
                             for l in langs])
        _, ppl_s = timed(
            lambda: perplexity_many_from_keys(model, keys_list, lang_idx, 0.1))
        for k, v in (("norm", norm_s), ("ngram", ngram_s), ("ppl", ppl_s),
                     ("annotate", annotate_s),
                     ("keys", sum(len(k) for k in keys_list)),
                     ("distinct", len(uniq))):
            out[k] += v
    return {
        "functions.normalize.busy_s": out["norm"],
        "functions.ngram.busy_s": out["ngram"],
        "functions.ngram.keys_per_doc": out["keys"] / len(texts),
        "functions.ngram.distinct_frac": out["distinct"] / len(texts),
        "operators.perplexity.busy_s": out["ppl"],
        "operators.detector.annotate_busy_s": out["annotate"],
        # annotate_batch = keys + detector + perplexity
        "operators.detector.busy_s": (out["annotate"] - out["norm"]
                                      - out["ngram"] - out["ppl"]),
        "operators.detector.replay_docs_per_s": len(texts) / out["annotate"],
    }


def filter_layers(wl, passes: list[dict],
                  python_total_s: float) -> dict[str, float]:
    out = {"models.load_s": wl.models_load_s,
           "models.pickled_mb": len(pickle.dumps(wl.model)) / _MB}
    src = wl._input()
    urls = random.Random(wl.seed).sample(sorted(src), REPLAY_DOCS)
    # the rows one task of the pass sends through the crossing
    batch = -(-wl.n_docs // wl.pipe.opts.repartition)
    out.update(replay(wl.model, [src[u][0] for u in urls], urls, batch))
    out["operators.udfs.boundary_s"] = python_total_s - out[
        "operators.detector.annotate_busy_s"] * wl.n_docs / REPLAY_DOCS
    ann = wl.pipe.annotate(wl.pages).select("url", "lang", "lang_conf", "ppl")
    out["operators.pipeline.annotate_s"] = _noop(ann)
    out["operators.quality.rules_scrub_s"] = (
        _noop(wl.pipe.run(wl.pages)) - out["operators.pipeline.annotate_s"])
    out["operators.quality.kept_frac"] = wl.kept_frac
    out["plans.checkpoint.write_s"] = statistics.median(
        p["info"]["write_sec"] for p in passes)
    out["plans.checkpoint.audit_s"] = statistics.median(
        p["info"]["audit_sec"] for p in passes)
    out["plans.checkpoint.chunks"] = -(-wl.n_buckets // wl.chunk)
    out["plans.checkpoint.mb_written"] = _dir_mb(wl.last_out)
    return out


def dedup_layers(wl, spark) -> dict[str, float]:
    from language_detection_spark.operators.dedup import (
        banded_rows,
        connected_components,
        exact_dedup,
        jaccard_for_pairs,
        lsh_candidate_pairs,
        md5_int,
        minhash_signatures,
    )
    from language_detection_spark.plans.caching import release_tracked_caches

    # the stage parameters of minhash_dedup_pairs' defaults, which the
    # job's dedup stage uses
    num_perm, bands, shingle_k, cap = 16, 4, 3, 1000
    out: dict[str, float] = {}
    held = []

    def stage(name: str, df):
        df = df.persist()
        held.append(df)
        n, out[f"operators.dedup.{name}_s"] = timed(df.count)
        return df, n

    kept = (spark.read.parquet(wl.input_dir).filter(F.col("keep"))
            .select("url", "bucket", "scrubbed_text"))
    exact, out["operators.dedup.exact_out"] = stage(
        "exact", exact_dedup(kept, text_col="scrubbed_text", id_col="url"))
    sigs, _ = stage("signatures", minhash_signatures(
        exact, "scrubbed_text", "url", num_perm, shingle_k))
    rows = num_perm // bands
    b = (banded_rows(sigs, bands, rows).groupBy("band", "band_hash").count()
         .agg(F.count(F.lit(1)), F.sum((F.col("count") > cap).cast("long")),
              F.max("count"), F.sum("count")).first())
    out.update({"operators.dedup.buckets": b[0],
                "operators.dedup.buckets_over_cap": b[1],
                "operators.dedup.max_bucket": b[2],
                "operators.dedup.members_collected": b[3]})
    cand, out["operators.dedup.candidates"] = stage(
        "candidates", lsh_candidate_pairs(sigs, bands, rows, cap))
    ver, out["operators.dedup.verified_pairs"] = stage(
        "verify", jaccard_for_pairs(cand, exact, "scrubbed_text", "url",
                                    shingle_k)
        .filter(F.col("jaccard") >= DEDUP_THRESHOLD))
    out["operators.dedup.verify_yield"] = (
        out["operators.dedup.verified_pairs"]
        / max(out["operators.dedup.candidates"], 1))
    edges = ver.select(md5_int(F.col("id_a")).alias("id_a"),
                       md5_int(F.col("id_b")).alias("id_b"))
    cc, _ = stage("cc", connected_components(edges))
    out["operators.dedup.components"] = cc.select("component").distinct().count()
    for df in held:
        df.unpersist()
    release_tracked_caches()
    return out


def layer_metrics(wl, spark, work: str, passes: list[dict],
                  boot_groups: tuple[str, ...], job_group: str,
                  names) -> dict[str, float]:
    """Every metric of ``names`` for this traced run (the memory split
    and sources.gen_s are filled in by the caller).  ``job_group`` holds
    the measured passes, ``boot_groups`` the jobs before them."""
    out = dict.fromkeys(names, 0.0)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    log_dir = os.path.join(work, "eventlog")
    ev = eventlog.read(log_dir, {job_group})
    n = len(passes)
    # totals per pass; skew and peak heap are not totals
    out.update({k: v if k in ("spark.task_skew", "jvm.peak_heap_mb")
                else v / n for k, v in ev.items()})
    # the Python workers start in the set-up and the warm-up pass and are
    # reused by the measured passes (each task still initializes its worker)
    out["operators.udfs.python_boot_s"] = eventlog.read(
        log_dir, boot_groups)["operators.udfs.python_boot_s"]
    out["trace.docs_per_s"] = statistics.median(p["docs_per_s"] for p in passes)
    if hasattr(wl, "pipe"):
        out.update(filter_layers(wl, passes,
                                 out["operators.udfs.python_total_s"]))
    else:
        out.update(dedup_layers(wl, spark))
    return out
