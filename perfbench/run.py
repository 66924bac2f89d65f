"""Benchmark of the quality-filter job and its dedup stage.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):
  filter_distinct  annotate under run_checkpointed, parquet data + audit
  dedup_skew       exact -> MinHash-LSH -> connected components -> reps

One run, in one driver process on local[cores]:
  1. writes the seeded input once per (workload, seed, size) into
     .perfbench_work/inputs/ (its generation time is reported as
     sources.gen_s and kept out of setup_s);
  2. sets up once, cold, as every job does: setup_s runs from process
     start (Python imports, JVM launch, session, model, pipeline and the
     warm-up action) to ready, less the input generation;
  3. runs one unmeasured pass, then whole passes, closed loop, until
     --seconds have passed (at least MIN_PASSES): docs_per_s and cpu_s
     (CPU seconds of the process tree for one pass) are medians over the
     measured passes;
  4. reads the VmHWM of the driver, the JVM and every Python worker
     before the session stops: peak_rss_mb is their sum;
  5. checks the outputs of the last pass; a failed check fails the run.

With --trace 1 the pass runs with the Spark event log on, and the run
prints the per-layer metrics instead (see tracing.py).  The metric names
and units are those of BENCHMARK.json.

Prints a human-readable summary, one JSON line with the run record, and
as its last line {"correct", "attempted", "failed", "metrics"}.  Exits 1
when a check fails, 2 when the run cannot complete.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
MIN_PASSES = 1
SETUP_GROUP = "perfbench-setup"
WARM_GROUP = "perfbench-warm"
JOB_GROUP = "perfbench-measure"


def metric_units(kind: str) -> dict[str, str]:
    """{name: unit} of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def host_cores() -> tuple[int, list[int]]:
    """$SPARK_GRAFT_CPUS if set, else the affinity mask; never more CPUs
    than the mask holds."""
    mask = sorted(os.sched_getaffinity(0))
    want = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or len(mask)
    return max(1, min(want, len(mask))), mask


def ensure_input(corpus: str, seed: int, n: int) -> tuple[str, float]:
    """Directory of the seeded corpus, generated in a child process when
    missing; returns (dir, generation seconds)."""
    root = os.path.join(WORK, "inputs", f"{corpus}-s{seed}-n{n}")
    data = os.path.join(root, "data")
    if os.path.exists(os.path.join(data, "_SUCCESS")):
        return data, 0.0
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), corpus,
                    str(seed), str(n), data], check=True)
    return data, time.perf_counter() - t0


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {"spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version()}


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits at EOF on its stdin) and
    wait until every process this run started has ended."""
    import proctree
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 60
    while len(proctree.tree()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in proctree.tree():
        if pid != os.getpid():
            os.kill(pid, 9)


def measure(wl, spark, seconds: float,
            n_docs: int) -> tuple[list[dict], float]:
    """Closed loop of whole passes; returns one record per pass and the
    warm-up pass's wall time."""
    import proctree

    # one unmeasured pass first: each pass is dominated by fixed per-job
    # costs that the JVM's JIT shrinks over the first pass, which made a
    # cold first pass swing by 20% between runs (a pass over a quarter of
    # the input saved no time and left the next pass slower)
    spark.sparkContext.setJobGroup(WARM_GROUP, "warm-up pass")
    t0 = time.perf_counter()
    wl.iterate(-1)
    warm_s = time.perf_counter() - t0
    spark.sparkContext.setJobGroup(JOB_GROUP, "measured passes")
    passes: list[dict] = []
    t_end = time.perf_counter() + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        c0, t0 = proctree.cpu_seconds(), time.perf_counter()
        info = wl.iterate(len(passes))
        wall = time.perf_counter() - t0
        passes.append({"wall_s": wall, "docs_per_s": n_docs / wall,
                       "cpu_s": proctree.cpu_seconds() - c0, "info": info})
    spark.sparkContext.setJobGroup("perfbench-other", "checks and tracing")
    return passes, warm_s


def run(args) -> tuple[dict, list[dict], dict[str, tuple[float, str]]]:
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    import proctree
    import workloads

    cores, mask = host_cores()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers and the JVM inherit these: scratch stays in the run dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")

    cls = workloads.WORKLOADS[args.workload]
    input_dir, gen_s = ensure_input(cls.corpus, args.seed, cls.n_docs)
    record = {
        "workload": args.workload, "seed": args.seed, "docs": cls.n_docs,
        "cores": cores, "affinity": mask, "nproc": os.cpu_count(),
        "seconds": args.seconds, "trace": args.trace,
        "driver_memory": os.environ["SPARK_DRIVER_MEM"],
    }
    wl = None
    spark = None
    try:
        spark = workloads.session(cores, work, trace=bool(args.trace))
        wl = cls(input_dir, work, cores, args.seed)
        spark.sparkContext.setJobGroup(SETUP_GROUP, "set-up")
        wl.setup(spark)
        setup_s = time.time() - T_START - gen_s
        record.update(versions(spark))
        passes, record["warm_pass_s"] = measure(wl, spark, args.seconds,
                                                cls.n_docs)
        with open(os.path.join(HERE, "digests.json")) as f:
            digests = json.load(f)
        mem = proctree.peak_rss_split()
        checks, record["checks_s"] = workloads.timed(lambda: wl.check(digests))
        if args.trace:
            import tracing

            units = metric_units("per_layer")
            metrics = tracing.layer_metrics(wl, spark, work, passes,
                                            (SETUP_GROUP, WARM_GROUP),
                                            JOB_GROUP, units)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    record.update({"setup_s": setup_s, "passes": passes, "checks": checks,
                   "memory_mb": mem, "sources.gen_s": gen_s,
                   "digest": getattr(wl, "digest", None)})
    if args.trace:
        metrics.update({"jvm.peak_rss_mb": mem["jvm"],
                        "py_workers.peak_rss_mb": mem["py_workers"],
                        "sources.gen_s": gen_s})
    else:
        units = metric_units("end_to_end")
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": statistics.median(p["docs_per_s"] for p in passes),
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "peak_rss_mb": mem["driver"] + mem["jvm"] + mem["py_workers"],
        }
    return record, checks, {k: (v, units[k]) for k, v in metrics.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        record, checks, metrics = run(args)
    except Exception:
        traceback.print_exc()
        print("run did not complete; no result", file=sys.stderr)
        return 2
    failed = sum(not c["ok"] for c in checks)
    attempted = len(record["passes"]) + len(checks)
    for c in checks:
        print(f"check {'ok ' if c['ok'] else 'FAILED'} {c['check']}: "
              f"{json.dumps(c['detail'])}")
    for name, (v, unit) in metrics.items():
        print(f"{name} {v:.6g} {unit}")
    print(f"failed_frac {failed / attempted:.6g} ({failed}/{attempted} "
          "passes and checks failed)")
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
