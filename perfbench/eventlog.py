"""Reader for a Spark event log (JSON lines, written uncompressed).

Sums the task metrics of every stage that ran under one job group, plus
the SQL metrics of the Arrow Python crossing, which the task-end events
carry as named accumulator updates, and takes the JVM's peak used heap
from the executor metrics logged with each stage and task.
"""

from __future__ import annotations

import json
import os
import statistics

# SQL metric names of PythonSQLMetrics (timings in ms, sizes in bytes)
PY_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_total_s",
    "data sent to Python workers": "mb_sent",
    "data returned from Python workers": "mb_received",
}
_MB = 1 << 20


def _events(log_dir: str):
    # Spark 4 writes a directory per application holding rolled
    # events_<n>_* files (next to .crc checksums and an appstatus marker);
    # the live file's last line may be cut mid-write
    for d, _, names in sorted(os.walk(log_dir)):
        for name in sorted(names):
            if not name.startswith("events_"):
                continue
            with open(os.path.join(d, name), encoding="utf-8") as f:
                for line in f:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        if line.endswith("\n"):
                            raise


def read(log_dir: str, job_groups) -> dict[str, float]:
    """Stage and Python-crossing totals for the jobs of ``job_groups``."""
    stages: set[int] = set()
    tasks: dict[int, list[dict]] = {}
    heaps: dict[int, list[int]] = {}
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("spark.jobGroup.id") in job_groups:
                stages.update(ev["Stage IDs"])
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(ev)
            heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory")
            if heap:
                heaps.setdefault(ev["Stage ID"], []).append(heap)
        elif kind == "SparkListenerStageExecutorMetrics":
            heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory")
            if heap:
                heaps.setdefault(ev["Stage ID"], []).append(heap)
    out = {"spark.executor_run_s": 0.0, "spark.executor_cpu_s": 0.0,
           "spark.gc_s": 0.0, "spark.shuffle_write_mb": 0.0,
           "spark.shuffle_read_mb": 0.0, "spark.spill_mb": 0.0,
           "spark.tasks": 0, "spark.task_skew": 1.0,
           "jvm.peak_heap_mb": max((h for sid in stages
                                    for h in heaps.get(sid, ())), default=0)
           / _MB}
    out.update({f"operators.udfs.{v}": 0.0 for v in PY_METRICS.values()})
    slowest, slowest_run = [], -1.0
    for sid in stages:
        runs = []
        for ev in tasks.get(sid, ()):
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            runs.append(run_ms)
            out["spark.executor_run_s"] += run_ms / 1e3
            out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            out["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
            sr = m.get("Shuffle Read Metrics") or {}
            out["spark.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / _MB
            out["spark.spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / _MB
            out["spark.tasks"] += 1
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                key = PY_METRICS.get(acc.get("Name"))
                if key is not None and "Update" in acc:
                    scale = 1e3 if key.endswith("_s") else _MB
                    out[f"operators.udfs.{key}"] += float(acc["Update"]) / scale
        if sum(runs) > slowest_run:
            slowest, slowest_run = runs, sum(runs)
    med = statistics.median(slowest) if slowest else 0
    if med > 0:
        out["spark.task_skew"] = max(slowest) / med
    return out
