"""Benchmark entry point.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 12 --trace 0

Runs one workload in a fresh Spark session on ``local[<cpus>]`` from the
root of a checkout, checks every output, and prints as its last stdout line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end set; with ``--trace 1``
the per-layer set (spans installed by ``spans.py``).  The line before it is
a ``{"detail": ...}`` object with everything else a reader may need:
generated input statistics, per-step samples, the filesystem of the work
directory, a no-op Spark job floor and the layer -> end-to-end map below.
The process exits 1 when an output check fails and 2 when the program is
not there to benchmark.

Workloads (each one closed-loop client, one operation at a time):

- ``migrate``: export -> import (``path_mapper="rsp"``) -> re-import of the
  same export -> symlink file tree, on synthetic Butler input from
  ``butler.py`` (its sizes and shares are assumptions, not DP1 figures).
  Each step runs once per cycle on fresh output roots.  The first cycle is
  the measured one: like the reference's three command-line tools, each
  command pays its own code-generation and JIT warm-up.
- ``query_mix``: at least three timed passes over six registry queries on
  seeded fixture tables from ``fixtures.py``, each result fully
  materialized through the ``noop`` sink.  Set-up runs the oracle pass
  (DuckDB), which also warms the JVM up.

End-to-end metrics (tracing off): ``setup_s`` (session start, input
generation as the median of three, and any warm-up) and ``cpu_s``, the CPU
seconds that this process, the Spark JVM and its Python workers spend in
one migrate cycle (the timed commands only) or, for the query mix, the sum
of each query's median.  Wall times per command and per query are in the
detail line; they are not gated because on a shared host they follow the
other tenants' load (see ``common.result``).

``bench.py`` reports min-of-3 per query on a fixed probe; its numbers are
not comparable with these per-pass medians.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent  # the checkout: the program lives beside this directory

# Which per-layer metrics should move which end-to-end metric, by workload.
LAYER_MAP = {
    "plans.catalog.stage.*: jobs, task_s, output_mb": "migrate: cpu_s",
    "plans.catalog.read: self_s": "migrate: cpu_s (reimport reads the target)",
    "plans.catalog.commit": "migrate: cpu_s",
    "plans.catalog.stage.datasets: shuffle_write_mb (find-first)":
        "migrate: cpu_s; query_mix: cpu_s via find_first",
    "operators.intervals.check_no_overlaps": "migrate: cpu_s (import)",
    "importer.reimport.roots_added": "migrate: cpu_s (reimport)",
    "plans.file_tree.generate_file_tree": "migrate: cpu_s (file tree)",
    "queries.*: jobs, wall_s": "query_mix: cpu_s",
    "session.get_spark": "both: setup_s",
}


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(work: Path) -> None:
    """Everything Spark writes goes under ``work``; Python workers find the
    package through PYTHONPATH (pandas-UDF and foreachPartition stages
    import it on the executors)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT), str(HERE)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    for p in (str(HERE), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["migrate", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "dp1_data_wrangling_spark" / "__init__.py").is_file():
        print(f"perfbench: no program to benchmark beside {HERE}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _prepare_env(work)
    try:
        if args.workload == "migrate":
            from migrate import run
        else:
            from query_mix import run
        result = run(work, seed=args.seed, seconds=args.seconds, trace=bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".bench_work").rmdir()
        except OSError:
            pass
    detail = result.pop("detail")
    detail["layer_map"] = LAYER_MAP
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
