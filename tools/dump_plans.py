"""Dump explain('formatted') physical plans of registry queries to
BENCH/plans/<query>.txt — review artifacts for the plan-shape claims
(pushed filters, pruned schemas, single ArrowEvalPython, no global
windows, broadcast joins, zero-exchange bucketed joins).

    python tools/dump_plans.py [sf_dir] [query ...]

With no query names it dumps the headline queries below.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

PLAN_QUERIES = [
    "lang_keep_filter",        # PushedFilters + pruned ReadSchema
    "doc_stats",               # pure-expression codegen
    "similarity_topk",         # two-phase windows (no global per-query)
    "ann_lsh_topk",            # bucket join + probes
    "ann_ivf_topk",            # centroid lists
    "minhash_near_dups",       # band buckets + bucket caps + verify join
    "simhash_near_dups",       # chunk-blocked buckets
    "incremental_near_dups",   # new + store buckets, store-scan pruning
    "image_near_dups",         # 64-bit chunk-blocked buckets
    "near_dup_clusters",       # MinHash + SimHash pairs into connected components
    "orders_by_region",        # broadcast join chain
    "lineitem_pricing_summary",  # partial+final hash agg
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or PLAN_QUERIES
    from language_detection_spark.config import get_spark
    from language_detection_spark.queries import queries

    out_dir = ROOT / "BENCH" / "plans"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # one bad query must not stop the dump
            plan = f"PLAN DUMP FAILED: {exc!r}\n"
        (out_dir / f"{name}.txt").write_text(plan)
        print(f"wrote BENCH/plans/{name}.txt ({len(plan)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
