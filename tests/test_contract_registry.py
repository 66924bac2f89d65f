"""Driver-contract registry invariants — protects __spark_entry__ from
drift: every query resolves an oracle, bench.py only times registered
queries, and snapshot pins exist for every snapshot-registered query."""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_every_query_has_an_oracle():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert len(q) >= 43
    missing = sorted(set(q) - set(o))
    # the driver records a weaker rows-only check for oracle-less queries;
    # this repo's contract is that there are NONE
    assert missing == [], f"queries without oracles: {missing}"


def test_bench_times_only_registered_queries():
    import __spark_entry__ as e

    q = set(e.queries())
    src = (ROOT / "bench.py").read_text()
    used = set(re.findall(r'q\["([a-z0-9_]+)"\]', src))
    assert used, "bench.py stopped using the registry?"
    unknown = sorted(used - q)
    assert unknown == [], f"bench.py times unregistered queries: {unknown}"


def test_north_rule_claim_counts_current():
    """NORTH_RULE.md's verification-claim row must state the CURRENT query
    and snapshot counts — stale driver-facing docs were a round-3 verdict
    item.  Parses 'Q/Q driver queries', 'R via independent DuckDB
    re-derivation' and 'S model-driven queries via regression-pinned
    snapshots' and checks them against the live registry."""
    import __spark_entry__ as e
    from tools.gen_snapshots import SNAPSHOT_QUERIES

    text = (ROOT / "NORTH_RULE.md").read_text()
    m = re.search(
        r"(\d+)/(\d+) driver queries oracle-green.*?"
        r"(\d+) via independent DuckDB re-derivation.*?"
        r"(\d+) model-driven queries via regression-pinned snapshots",
        text,
        re.S,
    )
    assert m, "NORTH_RULE.md claim line not found / reworded"
    q_claim, q_claim2, rederived, pinned = map(int, m.groups())
    n_q = len(e.queries())
    n_pin = len(SNAPSHOT_QUERIES)
    assert (q_claim, q_claim2) == (n_q, n_q), (
        f"NORTH_RULE.md claims {q_claim}/{q_claim2} queries; registry has {n_q}"
    )
    assert pinned == n_pin, (
        f"NORTH_RULE.md claims {pinned} snapshot pins; generator lists {n_pin}"
    )
    assert rederived == n_q - n_pin, (
        f"NORTH_RULE.md claims {rederived} re-derivations; should be {n_q - n_pin}"
    )


def test_snapshot_pins_exist_for_all_snapshot_queries():
    gen = (ROOT / "tools" / "gen_snapshots.py").read_text()
    tree = ast.parse(gen)
    names = None
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "SNAPSHOT_QUERIES" for t in node.targets
        ):
            names = [ast.literal_eval(el) for el in node.value.elts]
    assert names, "SNAPSHOT_QUERIES not found"
    snap_dir = (
        ROOT / "language_detection_spark" / "data" / "oracle_snapshots"
    )
    for n in names:
        for d in (snap_dir, snap_dir / "sf0.1"):
            f = d / f"{n}.sql"
            assert f.exists() and f.stat().st_size > 100, (
                f"missing pin: {f.relative_to(snap_dir)}"
            )
    # and no orphan pins for queries the generator no longer covers
    orphans = sorted(
        str(p.relative_to(snap_dir))
        for p in snap_dir.rglob("*.sql")
        if p.stem not in names
    )
    assert orphans == [], f"orphan snapshot pins: {orphans}"


def _nonatomic_fields(schema):
    """Names of top-level fields whose type a pandas-based result
    canonicalizer cannot sort/factorize (array/map/struct)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


# The registry builders that start Spark jobs while their DataFrame is
# built, with the reason.  The first seven call an iterative operator,
# which is an action by nature; the rest are open.  May only shrink.
PLAN_TIME_JOBS = {
    "near_dup_clusters": "connected_components",
    "cluster_representatives": "connected_components",
    "domain_pagerank": "pagerank_domains",
    "bpe_merges": "train_bpe_merges",
    "bpe_token_stats": "train_bpe_merges",
    "ann_ivf_topk": "ivf_centroids (k-means sample)",
    "semantic_dedup": "ivf_centroids (k-means sample)",
    "perplexity_terciles": "open: its eager count keeps the annotate UDF "
    "from running twice, and no job-free form is settled",
}


def _schema_read(tracker, job_id) -> bool:
    """A scan's parquet footer read, which every builder may start."""
    stages = tracker.getJobInfo(job_id).stageIds
    return all(
        tracker.getStageInfo(s).name.startswith("parquet at ") for s in stages
    )


def test_contract_queries_emit_atomic_columns_only(spark, sf_dir):
    """The external driver canonicalizes results with pandas
    sort/factorize, which crashes on list-typed cells (unhashable type)
    — CORRECTNESS_r05 recorded exactly that for the old array<double>
    frame_means column.  Structural guard: EVERY registered contract
    query's declared output schema is atomic-typed.  Schemas come from
    plan construction only: each query is built under its own job group,
    and only the builders in PLAN_TIME_JOBS start a job there that is
    not a schema read."""
    import __spark_entry__ as e

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    offenders, with_jobs = {}, set()
    try:
        for name, fn in e.queries().items():
            sc.setJobGroup(f"build-{name}", name)
            df = fn(spark, sf_dir)
            bad = _nonatomic_fields(df.schema)
            if bad:
                offenders[name] = bad
            if not all(_schema_read(tracker, j)
                       for j in tracker.getJobIdsForGroup(f"build-{name}")):
                with_jobs.add(name)
    finally:
        sc._jsc.clearJobGroup()
    assert offenders == {}, f"non-atomic contract outputs: {offenders}"
    assert with_jobs == set(PLAN_TIME_JOBS), (
        f"start jobs while built, unlisted: {sorted(with_jobs - set(PLAN_TIME_JOBS))};"
        f" listed but job-free: {sorted(set(PLAN_TIME_JOBS) - with_jobs)}"
    )


def test_atomic_lint_catches_array_output(spark):
    """The lint itself must fire on an arrayed fixture query — guards
    against the helper silently passing everything."""
    from pyspark.sql import functions as F

    df = spark.range(3).select("id", F.array(F.lit(1), F.lit(2)).alias("xs"))
    assert _nonatomic_fields(df.schema) == ["xs"]
