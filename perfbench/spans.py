"""Per-layer spans for the traced benchmark run.

Spans are recorded from outside the program: ``install`` replaces each
traced public function by a wrapper, in every module of the package that
holds a reference to it (``plans.export.find_first`` as well as
``operators.find_first.find_first``), and on the ``Catalog`` and
``Transaction`` classes.  A wrapper times the call, subtracts the time of
the spans nested in it (self time), and gives the call its own Spark job
group.  After the measured passes, ``resolve`` maps each call's job group
to its jobs and stages through the status store (populated with the UI
disabled) and sums executor run time, shuffle write, output bytes and
failed tasks.  Stage statistics are read only then, so the spans' wall
times carry nothing but the job-group switch.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

# span -> the fields it reports.  Spans that never write, shuffle or fail
# leave those fields out; the planning-only operators report call counts and
# planning time; ``queries.<name>`` spans are added per query of the mix.
FULL = ("calls", "wall_s", "self_s", "jobs", "tasks", "task_s", "shuffle_write_mb", "output_mb")
STAGE = ("calls", "wall_s", "jobs", "tasks", "task_s", "shuffle_write_mb", "output_mb")
PLAN = ("calls", "wall_s")
SPANS: dict[str, tuple[str, ...]] = {
    "session.get_spark": PLAN,
    "plans.export.run_export": FULL,
    "plans.importer.run_import.import": FULL,
    "plans.importer.run_import.reimport": FULL,
    "plans.file_tree.generate_file_tree": ("calls", "wall_s", "jobs", "tasks", "task_s"),
    "plans.catalog.commit": ("calls", "wall_s", "jobs"),
    "plans.catalog.read": ("calls", "wall_s", "self_s", "jobs", "tasks"),
    "plans.catalog.stage.datasets": STAGE,
    "plans.catalog.stage.dimensions": STAGE,
    "plans.catalog.stage.associations": STAGE,
    "plans.catalog.stage.datastore_records": STAGE,
    "plans.catalog.stage.collections": ("calls", "wall_s", "jobs"),
    "operators.intervals.check_no_overlaps": ("calls", "wall_s", "jobs", "tasks", "task_s", "shuffle_write_mb"),
    "operators.chains.flatten_chains": PLAN,
    "operators.find_first.find_first": PLAN,
    "operators.priority_dedup.priority_dedup": PLAN,
}
QUERY_FIELDS = ("wall_s", "jobs")
UNITS = {
    "calls": "count", "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "task_s": "s", "shuffle_write_mb": "MB", "output_mb": "MB",
}
MB = 1 << 20


@dataclass
class _Call:
    name: str
    group: str | None
    wall: float = 0.0
    child_wall: float = 0.0
    children: list["_Call"] = field(default_factory=list)


class Tracer:
    """Records spans for one SparkContext; ``install`` / ``uninstall``
    bracket the traced region."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.calls: list[_Call] = []  # top-level calls, children nested
        self._stack: list[_Call] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []
        self.phase = "import"  # names the run_import span: import | reimport
        # Job-group switch time inside the spans only; the wrappers' own
        # Python cost is not in it.  The whole tracing cost is trace.cpu_s
        # minus cpu_s of an untraced run of the same seed (trace.pass_s
        # minus its detail pass_s in wall time).
        self.overhead_s = 0.0

    # -- spans -------------------------------------------------------------
    def span(self, name: str, fn, *args, jobs: bool = True, **kwargs):
        t0 = time.perf_counter()
        call = _Call(name, f"perfbench-{next(self._ids)}" if jobs else None)
        parent = self._stack[-1] if self._stack else None
        (parent.children if parent else self.calls).append(call)
        self._stack.append(call)
        if call.group:
            self._set_group(call.group)
        t1 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            if call.group:
                outer = next((c.group for c in reversed(self._stack) if c.group), None)
                self._set_group(outer)
            t3 = time.perf_counter()
            call.wall = t2 - t1
            self.overhead_s += (t1 - t0) + (t3 - t2)
            if parent:
                parent.child_wall += call.wall

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    # -- wrappers ----------------------------------------------------------
    def install(self) -> None:
        # import_module: the operators package re-exports functions under
        # the names of their modules, which shadows the submodules.
        def mod(name):
            return importlib.import_module(f"dp1_data_wrangling_spark.{name}")

        chains, find_first = mod("operators.chains"), mod("operators.find_first")
        intervals, priority_dedup = mod("operators.intervals"), mod("operators.priority_dedup")
        catalog, export = mod("plans.catalog"), mod("plans.export")
        file_tree, importer = mod("plans.file_tree"), mod("plans.importer")

        def wrap_fn(name, fn, *, jobs=True):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                return self.span(name, fn, *args, jobs=jobs, **kwargs)
            return wrapper

        def import_name(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                return self.span(f"plans.importer.run_import.{self.phase}", fn, *args, **kwargs)
            return wrapper

        def stage_name(fn):
            @functools.wraps(fn)
            def wrapper(txn, table, *args, **kwargs):
                family = table.split("/")[0]
                if family == "collection_chains":
                    family = "collections"
                return self.span(f"plans.catalog.stage.{family}", fn, txn, table, *args, **kwargs)
            return wrapper

        functions = [
            (export.run_export, wrap_fn("plans.export.run_export", export.run_export)),
            (importer.run_import, import_name(importer.run_import)),
            (file_tree.generate_file_tree,
             wrap_fn("plans.file_tree.generate_file_tree", file_tree.generate_file_tree)),
            (intervals.check_no_overlaps,
             wrap_fn("operators.intervals.check_no_overlaps", intervals.check_no_overlaps)),
            (chains.flatten_chains,
             wrap_fn("operators.chains.flatten_chains", chains.flatten_chains, jobs=False)),
            (find_first.find_first,
             wrap_fn("operators.find_first.find_first", find_first.find_first, jobs=False)),
            (priority_dedup.priority_dedup,
             wrap_fn("operators.priority_dedup.priority_dedup", priority_dedup.priority_dedup,
                     jobs=False)),
        ]
        # Patch every module of the package that looked the function up by
        # name at import time, so calls resolve to the wrapper wherever made.
        modules = [m for n, m in list(sys.modules.items())
                   if m is not None and n.startswith("dp1_data_wrangling_spark")]
        for original, wrapper in functions:
            for mod in modules:
                for attr, value in list(vars(mod).items()):
                    if value is original:
                        self._patch(mod, attr, wrapper)
        self._patch(catalog.Catalog, "commit", wrap_fn("plans.catalog.commit", catalog.Catalog.commit))
        self._patch(catalog.Catalog, "read", wrap_fn("plans.catalog.read", catalog.Catalog.read))
        self._patch(catalog.Transaction, "stage", stage_name(catalog.Transaction.stage))

    def _patch(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, value in reversed(self._patched):
            setattr(owner, attr, value)
        self._patched.clear()

    # -- statistics --------------------------------------------------------
    def resolve(self, passes: int) -> dict[str, dict[str, float]]:
        """Per span name: totals over the traced region divided by
        ``passes`` (the measured passes), so every field reads per pass."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # the bus is internal API; fall back to a pause
            time.sleep(2.0)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

        def stats(group: str) -> dict[str, float]:
            out = defaultdict(float)
            stages = set()
            for job in tracker.getJobIdsForGroup(group):
                out["jobs"] += 1
                info = tracker.getJobInfo(job)
                stages.update(info.stageIds if info else ())
            for sid in stages:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # never attempted (skipped stage)
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["task_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["output_mb"] += sd.outputBytes() / MB
                out["failed_tasks"] += sd.numFailedTasks()
            return out

        def visit(call: _Call) -> dict[str, float]:
            own = stats(call.group) if call.group else defaultdict(float)
            for child in call.children:
                for k, v in visit(child).items():
                    own[k] += v
            t = totals[call.name]
            t["calls"] += 1
            t["wall_s"] += call.wall
            t["self_s"] += call.wall - call.child_wall
            for k, v in own.items():
                t[k] += v
            return own

        failed = 0.0
        for call in self.calls:
            failed += visit(call).get("failed_tasks", 0.0)
        result = {name: {k: v / passes for k, v in t.items()} for name, t in totals.items()}
        result["spark"] = {"failed_tasks": failed}
        return result


def span_metrics(resolved: dict, queries: list[str]) -> dict[str, tuple[float, str]]:
    """Flatten resolved spans into ``<span>.<field>`` metrics; spans the
    workload never entered read 0."""
    out: dict[str, tuple[float, str]] = {}
    specs = {**SPANS, **{f"queries.{q}": QUERY_FIELDS for q in queries}}
    for name, fields in specs.items():
        got = resolved.get(name, {})
        for f in fields:
            out[f"{name}.{f}"] = (got.get(f, 0.0), UNITS[f])
    out["spark.failed_tasks"] = (resolved.get("spark", {}).get("failed_tasks", 0.0), "count")
    return out
