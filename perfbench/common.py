"""Helpers shared by the workloads: session lifetime, memory high-water
mark, set-up repetition and the result record."""

from __future__ import annotations

import os
import resource
import statistics
import time
from pathlib import Path


def fs_type(path: Path) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) > 2 and str(path).startswith(parts[1]) and len(parts[1]) > len(best):
                    best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """High-water RSS of the Spark JVM plus this Python process."""
    jvm = _hwm_kb(spark.sparkContext._gateway.proc.pid)
    return (jvm + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(spark) -> float:
    """CPU seconds used so far by this process, the Spark JVM and every
    process under it (the Python workers), counting exited children the
    JVM has waited for."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = set(), [spark.sparkContext._gateway.proc.pid]
    while frontier:
        pid = frontier.pop()
        tree.add(pid)
        frontier += [c for c, (ppid, _) in stats.items() if ppid == pid and c not in tree]
    jvm = sum(stats[p][1] for p in tree if p in stats) / _TICK
    own = resource.getrusage(resource.RUSAGE_SELF)
    return jvm + own.ru_utime + own.ru_stime


def noop_job_ms(spark) -> float:
    """Median of three one-row Spark jobs: the host's per-job floor."""
    samples = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        samples.append((time.perf_counter() - t) * 1000)
    return statistics.median(samples)


SETUP_REPS = 3


def median_setup(make):
    """Run ``make`` (input generation) ``SETUP_REPS`` times; returns the last
    result and the median seconds."""
    times, result = [], None
    for i in range(SETUP_REPS):
        t = time.perf_counter()
        result = make(i)
        times.append(time.perf_counter() - t)
    return result, statistics.median(times)


def stop(spark) -> None:
    """Stop the SparkContext and wait for the Spark JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    try:
        gateway.shutdown()
    finally:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def summary(samples: list[float]) -> dict:
    """Median, max and the sample count.  No run yields the hundred-odd
    operations a tail percentile needs, so none is reported."""
    return {"n": len(samples), "p50": statistics.median(samples), "max": max(samples)}


def result(*, attempted: int, failed: int, setup_s: float, pass_s: list[float],
           cpu_s: list[float], op_s: list[float], rss_mb: float, layers: dict | None,
           detail: dict) -> dict:
    """The record ``run.py`` prints: end-to-end metrics when ``layers`` is
    None, else the per-layer metrics.  ``pass_s`` and ``cpu_s`` hold one
    wall and one CPU figure per measured pass."""
    if layers is None:
        # A pass is gated on the CPU seconds it costs, not on its wall time:
        # on a host whose cores other tenants share, the wall time of the
        # same code spreads by a quarter or more between runs minutes apart,
        # for longer than any run lasts.  CPU time leaves out the time other
        # processes hold the cores, so it spreads about half as much, though
        # a busy host still makes each core slower.
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cpu_s": {"value": statistics.median(cpu_s), "unit": "s"},
        }
    else:
        # Measured but not gated: the JVM's high-water mark follows garbage
        # collection, and the median operation of the query mix is one of
        # its sub-second queries; both spread more than a tenth between runs.
        layers["peak_rss_mb"] = (rss_mb, "MB")
        # computed as cpu_s and the detail line's pass_s are, so each compares
        # with an untraced run of the same seed: the difference is the
        # tracing cost
        layers["trace.pass_s"] = (statistics.median(pass_s), "s")
        layers["trace.cpu_s"] = (statistics.median(cpu_s), "s")
        layers["op_p50_s"] = (statistics.median(op_s), "s")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    detail.update({
        "failed_ratio": failed / max(1, attempted),
        "pass_s": summary(pass_s),
        "cpu_s": summary(cpu_s),
        "op_s": summary(op_s),
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
    })
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "detail": detail}


# Per-layer counts and ratios taken from the outputs (migrate) and the
# run itself; a workload that has no such boundary reports 0.
FACTS = {
    "find_first.kept_ratio": "ratio",
    "priority_dedup.kept_ratio": "ratio",
    "importer.reimport.rows_written": "count",
    "importer.reimport.roots_added": "count",
    "catalog.stage.files_per_root": "count",
    "file_tree.links_per_s": "1/s",
    "stored_bytes_ratio": "ratio",
}


def layer_facts(facts: dict, *, overhead_s: float, noop_ms: float,
                failed_ratio: float) -> dict[str, tuple[float, str]]:
    out = {k: (float(facts.get(k, 0.0)), u) for k, u in FACTS.items()}
    out["trace.overhead_s"] = (overhead_s, "s")
    out["host.noop_job_ms"] = (noop_ms, "ms")
    out["failed_ratio"] = (failed_ratio, "ratio")
    return out
