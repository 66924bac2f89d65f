"""CPU time and memory high-water marks of this process and every
descendant (the Spark JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces; the fields after it are space separated
    head, tail = s.rsplit(")", 1)
    return [head.split("(", 1)[1]] + tail.split()


def tree(root: int | None = None) -> dict[int, str]:
    """{pid: comm} of ``root`` (default: this process) and its descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        comm[int(name)] = st[0]
        children.setdefault(int(st[2]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in comm:
            out[p] = comm[p]
            todo.extend(children.get(p, ()))
    return out


def cpu_seconds(root: int | None = None) -> float:
    """user+sys CPU of the tree, including exited children that a live
    member of the tree has reaped (so workers that exit are not lost)."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of proc(5))
            total += sum(int(x) for x in st[12:16])
    return total / _TICK


def hwm_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss_split(root: int | None = None) -> dict[str, float]:
    """Summed VmHWM of the driver, the JVM and the JVM's Python workers.
    Read before the session stops: a process's mark dies with it."""
    root = root or os.getpid()
    procs = tree(root)
    jvms = [p for p, c in procs.items() if c == "java"]
    workers = [p for j in jvms for p, c in tree(j).items()
               if c.startswith("python")]
    return {
        "driver": hwm_mb(root),
        "jvm": sum(hwm_mb(p) for p in jvms),
        "py_workers": sum(hwm_mb(p) for p in workers),
        "n_py_workers": len(workers),
    }
