"""The ``migrate`` workload: export -> import -> re-import -> file tree.

One client runs the paper's pipeline on synthetic Butler input (``butler.py``):
``run_export`` with find-first over a five-run chain and priority dedup
across two datastores, ``run_import`` with the RSP path mapper, a second
``run_import`` of the same export (a no-op by contract), and
``generate_file_tree`` over the exported datastore records.  Cycles repeat
on fresh output roots until ``seconds`` have passed (at least one).

Every output is checked without Spark, from the parquet files the catalog
manifests list: each exported table equals, as a row multiset, what the
generator says the export must hold (``expected_export``: the find-first
winners, their primary datastore records, their associations and the
dimension records they reference), each table survives the round trip
(datastore paths RSP-mapped), the re-import changed no table, and the
symlink farm holds one link per distinct mapped path of the expected
records, with sampled links pointing at the expected source.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads

import butler
import common
import spans
from query_mix import MIX

N_DATA_IDS = 6_000  # an assumed size, cut to fit the run budget (see butler.py)
LINK_SAMPLE = 50


# -- reading catalogs back without Spark ------------------------------------
def _manifest(root: Path) -> dict:
    return json.loads((root / "MANIFEST.json").read_text())


def _root_files(path: Path) -> list[Path]:
    return [p for p in path.rglob("*.parquet") if not p.name.startswith(".")]


def _rows(t: pa.Table) -> Counter:
    """A table as a multiset of rows, columns in name order."""
    t = t.select(sorted(t.column_names))
    return Counter(zip(*(c.to_pylist() for c in t.columns)))


def read_rows(root: Path, table: str) -> Counter:
    """Order-insensitive content of a catalog table (hive partition columns
    included)."""
    rows: Counter = Counter()
    for rel in _manifest(root)["tables"][table]:
        if _root_files(root / rel):
            rows.update(_rows(pads.dataset(str(root / rel), format="parquet",
                                           partitioning="hive").to_table()))
    return rows


def expected_export(gen: butler.ButlerInput) -> dict[str, Counter]:
    """Each table ``run_export`` must write, derived from the generator
    alone: the winning rows of every dataset type, the associations of the
    winners, the primary datastore record of each winner (paths as given),
    the dimension records the winners reference plus the day_obs and
    physical_filter records of those visits, and both collection tables
    unchanged."""
    winners = pa.array(sorted(gen.winners), pa.binary())

    def won(t: pa.Table) -> pa.Table:
        return t.filter(pc.is_in(t["dataset_id"], value_set=winners))

    kept = {name: won(t) for name, t in gen.datasets.items()}
    out = {f"datasets/{name}": _rows(t) for name, t in kept.items()}
    out["associations"] = _rows(won(gen.associations))
    records = gen.datastore_records
    out["datastore_records"] = _rows(
        won(records.filter(pc.equal(records["datastore_name"], butler.PRIORITY[0]))))
    out["collections"] = _rows(gen.collections)
    out["collection_chains"] = _rows(gen.collection_chains)

    def used(col: str) -> set:
        return {v for t in kept.values() if col in t.column_names for v in t[col].to_pylist()}

    def referenced(dim: str, keys: set) -> pa.Table:
        t = gen.dimensions[dim]
        return t.filter(pc.is_in(t[dim], value_set=pa.array(sorted(keys), t[dim].type)))

    visits = referenced("visit", used("visit"))
    keys = {
        "visit": used("visit"),
        "detector": used("detector"),
        "day_obs": set(visits["day_obs"].to_pylist()),
        "physical_filter": used("physical_filter") | set(visits["physical_filter"].to_pylist()),
    }
    for dim in gen.dimensions:
        out[f"dimensions/{dim}"] = _rows(referenced(dim, keys[dim]))
    return out


def _rsp(path: str) -> str:
    from dp1_data_wrangling_spark.plans.importer import RSP_PREFIX, RSP_TARGET

    return RSP_TARGET + path[len(RSP_PREFIX):] if path.startswith(RSP_PREFIX) else path


def expected_links(records: Counter, columns: list[str]) -> dict[str, str]:
    """link -> source, as ``mapped_paths`` defines them."""
    i = columns.index("path")
    out = {}
    for row in records:
        p = row[i]
        source = p[len("file://"):] if p.startswith("file://") else f"{butler.DATASTORE_ROOT}/{p}"
        link = _rsp(p) if p.startswith("file://") else p
        out[link.split("#", 1)[0]] = source.split("#", 1)[0]
    return out


def _bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


# -- the workload -----------------------------------------------------------
def run(work: Path, *, seed: int, seconds: float, trace: bool) -> dict:
    from dp1_data_wrangling_spark import session
    from dp1_data_wrangling_spark.plans import Catalog
    from dp1_data_wrangling_spark.plans import export as export_mod
    from dp1_data_wrangling_spark.plans import file_tree as file_tree_mod
    from dp1_data_wrangling_spark.plans import importer as importer_mod

    t = time.perf_counter()
    spark = session.get_spark("perfbench-migrate")
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")

        def make(i: int):
            gen = butler.generate(seed, N_DATA_IDS)
            paths, n_bytes = gen.write(str(work / f"input-{i}"))
            return gen, paths, n_bytes

        (gen, paths, in_bytes), gen_s = common.median_setup(make)
        setup_s = session_s + gen_s
        u = butler.universe()
        columns = {name: sorted(t.column_names) for name, t in gen.tables().items()}
        expected = expected_export(gen)

        tracer = spans.Tracer(spark) if trace else None
        if tracer:
            tracer.install()
        attempted = failed = 0
        passes: list[float] = []
        cpu: list[float] = []
        ops: list[float] = []
        steps: dict[str, list[float]] = {"export_s": [], "import_s": [], "reimport_s": [], "file_tree_s": []}
        facts: dict = {}
        start = time.perf_counter()
        cycle = 0
        while cycle == 0 or time.perf_counter() - start < seconds:
            base = work / f"cycle-{cycle}"
            exp, tgt, tree = base / "export", base / "target", base / "tree"
            cycle += 1
            attempted += 4
            done: dict[str, float] = {}
            used: dict[str, float] = {}

            def step(key, command):
                """Run one command; its wall and CPU seconds go under ``key``."""
                c, t = common.cpu_s(spark), time.perf_counter()
                out = command()
                done[key] = time.perf_counter() - t
                used[key] = common.cpu_s(spark) - c
                return out

            try:
                read = spark.read.parquet
                step("export_s", lambda: export_mod.run_export(
                    spark, str(exp), u,
                    datasets={k: read(paths[f"datasets/{k}"]) for k in gen.datasets},
                    dimension_records={k: read(paths[f"dimensions/{k}"]) for k in gen.dimensions},
                    associations=read(paths["associations"]),
                    datastore_records=read(paths["datastore_records"]),
                    collections=read(paths["collections"]),
                    collection_chains=read(paths["collection_chains"]),
                    root_collection=butler.ROOT,
                    datastore_priority=butler.PRIORITY,
                ))
                if tracer:
                    tracer.phase = "import"
                step("import_s", lambda: importer_mod.run_import(
                    spark, str(exp), str(tgt), path_mapper="rsp"))
                before = _manifest(tgt)
                before_rows = {tb: read_rows(tgt, tb) for tb in before["tables"]}
                if tracer:
                    tracer.phase = "reimport"
                step("reimport_s", lambda: importer_mod.run_import(
                    spark, str(exp), str(tgt), path_mapper="rsp"))
                n_links = step("file_tree_s", lambda: file_tree_mod.generate_file_tree(
                    Catalog(exp).read(spark, "datastore_records"), str(tree), butler.DATASTORE_ROOT))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 4 - len(done)
                continue
            for k, v in done.items():
                steps[k].append(v)
                ops.append(v)
            passes.append(sum(done.values()))
            cpu.append(sum(used.values()))
            f, cycle_facts = check(gen, expected, exp, tgt, tree, before, before_rows, n_links,
                                   columns)
            failed += f
            cycle_facts["file_tree.links_per_s"] = n_links / done["file_tree_s"]
            cycle_facts["stored_bytes_ratio"] = (_bytes(exp) + _bytes(tgt)) / in_bytes
            facts = cycle_facts
        if tracer:
            tracer.uninstall()
        if not passes:
            passes = ops = cpu = [float("nan")]
        rss = common.peak_rss_mb(spark)
        detail = {
            "workload": "migrate", "seed": seed, "cycles": cycle,
            "input": gen.stats, "input_bytes": in_bytes,
            "work_fs": common.fs_type(work), "steps": steps, **facts,
            "host.noop_job_ms": common.noop_job_ms(spark),
            "session_s": session_s, "input_generation_s": gen_s,
        }
        layers = None
        if tracer:
            resolved = tracer.resolve(len(passes))
            resolved["session.get_spark"] = {"calls": 1.0, "wall_s": session_s}
            layers = spans.span_metrics(resolved, MIX)
            layers.update(common.layer_facts(
                facts, overhead_s=tracer.overhead_s,
                noop_ms=detail["host.noop_job_ms"], failed_ratio=failed / attempted))
        return common.result(attempted=attempted, failed=failed, setup_s=setup_s, pass_s=passes,
                             cpu_s=cpu, op_s=ops, rss_mb=rss, layers=layers, detail=detail)
    finally:
        common.stop(spark)


def check(gen, expected: dict, exp: Path, tgt: Path, tree: Path, before: dict,
          before_rows: dict, n_links: int, columns: dict) -> tuple[int, dict]:
    """Output checks for one cycle; returns (wrong operations, facts)."""
    wrong = {"export": [], "import": [], "reimport": [], "file_tree": []}
    exp_m, after = _manifest(exp), _manifest(tgt)
    exported = {tb: read_rows(exp, tb) for tb in exp_m["tables"]}

    # export: every table holds exactly the rows the generator predicts (for
    # a dataset type, one find-first winner per data ID)
    for tb in sorted(set(expected) | set(exported)):
        got, want = exported.get(tb, Counter()), expected.get(tb, Counter())
        if got != want:
            wrong["export"].append(
                f"{tb}: {sum((got - want).values())} unexpected, "
                f"{sum((want - got).values())} missing rows")

    # import: every table round-trips (datastore paths RSP-mapped)
    for tb, rows in exported.items():
        want = rows
        if tb == "datastore_records":
            i = columns[tb].index("path")
            want = Counter({r[:i] + (_rsp(r[i]),) + r[i + 1:]: n for r, n in rows.items()})
        if before_rows.get(tb) != want:
            wrong["import"].append(f"{tb}: target differs from export")

    # re-import: no table changed; count what it added anyway
    roots_added = rows_written = 0
    for tb, rels in after["tables"].items():
        new = [r for r in rels if r not in before["tables"].get(tb, [])]
        roots_added += len(new)
        rows_written += sum(
            pads.dataset(str(tgt / r), format="parquet", partitioning="hive").count_rows()
            for r in new if _root_files(tgt / r))
        if read_rows(tgt, tb) != before_rows.get(tb):
            wrong["reimport"].append(f"{tb}: changed by re-import")

    # file tree: one link per distinct mapped path, pointing at its source
    links = expected_links(expected["datastore_records"], columns["datastore_records"])
    on_disk = sum(len(fs) for _, _, fs in os.walk(tree))
    if not (n_links == len(links) == on_disk):
        wrong["file_tree"].append(f"links: returned {n_links}, expected {len(links)}, on disk {on_disk}")
    for link in sorted(links)[:: max(1, len(links) // LINK_SAMPLE)]:
        got = os.readlink(tree / link) if os.path.islink(tree / link) else None
        if got != links[link]:
            wrong["file_tree"].append(f"{link} -> {got}, want {links[link]}")
            break

    roots = [tgt / r for rels in after["tables"].values() for r in rels]
    roots += [exp / r for rels in exp_m["tables"].values() for r in rels]
    files = [len(_root_files(r)) for r in roots]
    n_in_ff = sum(t.num_rows for n, t in gen.datasets.items())
    n_out_ff = sum(sum(exported[f"datasets/{n}"].values()) for n in gen.datasets)
    facts = {
        "find_first.kept_ratio": n_out_ff / n_in_ff,
        "priority_dedup.kept_ratio":
            sum(exported["datastore_records"].values()) / gen.datastore_records.num_rows,
        "importer.reimport.rows_written": rows_written,
        "importer.reimport.roots_added": roots_added,
        "catalog.stage.files_per_root": sum(files) / max(1, sum(1 for f in files if f)),
        "links": n_links,
        "wrong": {k: v for k, v in wrong.items() if v},
    }
    for k, v in facts["wrong"].items():
        print(f"perfbench migrate: wrong {k}: {v}", file=sys.stderr)
    return sum(1 for v in wrong.values() if v), facts
