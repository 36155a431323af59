"""Seeded, synthetic Butler-model input for the ``migrate`` workload.

The engine's own fixtures derive the Butler tables from the TPC-H-ish
fixture tables, and their calibration intervals overlap at larger scales,
so ``run_import`` rejects them.  This generator builds the five table
families directly, with the features of a Rubin DP1 export that the
pipeline has to handle:

- one large dataset type (``visit_image``) and two calibration types
  (``bias``, ``flat``) over four dimension tables;
- a five-run collection chain in which a share of data IDs exist in two
  or three runs (find-first duplicates), plus rows in a run outside the
  chain that find-first must drop;
- TAGGED associations, and CALIBRATION associations whose validity
  intervals never overlap per (collection, data ID);
- a primary and a secondary datastore, absolute ``file://`` URIs, and
  ``#fragment`` members of shared zip files (several records, one link).

Everything is produced with numpy from one seed and written as parquet, so
the program under test receives only files.

The sizes and shares below are assumptions of this benchmark, not measured
DP1 figures: the reference publishes no table sizes, and no public source
for them was at hand.  They are chosen so that every feature above is
exercised on a few thousand rows; the input is not claimed to be
representative of DP1 volumes or skew.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dp1_data_wrangling_spark.plans.importer import RSP_PREFIX
from dp1_data_wrangling_spark.schema import DatasetType, Dimension, Universe

CHAIN_RUNS = [f"DP1/run_{i}" for i in range(5)]
OUTSIDE_RUN = "u/scratch/run"
ROOT = "DP1"
TAGGED = "DP1/tagged"
CALIB = "DP1/calib"
PRIORITY = ["primary", "secondary"]
DATASTORE_ROOT = "/repo/main"
N_DETECTORS = 9  # assumed
FILTERS = ["u_02", "g_01", "r_03", "i_06", "z_03", "y_04"]
DAY_NS = 86_400 * 10**9
T0_NS = 1_730_000_000 * 10**9  # 2024-10-27

# (name, data-ID dimension, share of the data IDs), each per detector.  Every
# dataset type adds a fixed cost to each step (about four seconds per cycle
# from a cold JVM), so the benchmark keeps one large type to fit its budget.
LARGE_TYPES = [("visit_image", "visit", 1.0)]

# Assumed shares and counts (see the module docstring): none is a DP1 figure.
CALIB_INTERVALS = {"bias": 24, "flat": 6}  # assumed validity intervals per data ID
DUP_2 = 0.20  # assumed share of data IDs found in two chain runs
DUP_3 = 0.05  # ... and in three (assumed)
OUTSIDE_SHARE = 0.03  # assumed share of rows in a run the chain does not reach
SECONDARY_SHARE = 0.20  # assumed share of datasets also held by the secondary datastore
ABSOLUTE_SHARE = 0.12  # assumed share of primary records with absolute file:// URIs
ZIP_SHARE = 0.10  # assumed share of visit_image records packed into shared zip files
ZIP_MEMBERS = 4  # assumed records per zip file
TAGGED_SHARE = 0.10  # assumed share of visit_image datasets also in the TAGGED collection


def universe() -> Universe:
    u = Universe()
    u.add_dimension(Dimension(
        "day_obs", keys=("day_obs",), payload=("begin_nsec",),
        types={"day_obs": "int", "begin_nsec": "bigint"}))
    u.add_dimension(Dimension(
        "physical_filter", keys=("physical_filter",), payload=("band",),
        types={"physical_filter": "string", "band": "string"}))
    u.add_dimension(Dimension(
        "detector", keys=("detector",), payload=("full_name", "purpose"),
        types={"detector": "int", "full_name": "string", "purpose": "string"}))
    u.add_dimension(Dimension(
        "visit", keys=("visit",), payload=("day_obs", "physical_filter", "seeing"),
        depends_on=("day_obs", "physical_filter"),
        types={"visit": "bigint", "day_obs": "int", "physical_filter": "string",
               "seeing": "double"}))
    for name, dim, _ in LARGE_TYPES:
        u.add_dataset_type(DatasetType(name, dimensions=(dim, "detector")))
    u.add_dataset_type(DatasetType(
        "bias", dimensions=("detector",), storage_class="Calibration", is_calibration=True))
    u.add_dataset_type(DatasetType(
        "flat", dimensions=("detector", "physical_filter"), storage_class="Calibration",
        is_calibration=True))
    return u


@dataclass
class ButlerInput:
    """Generated tables (pyarrow) plus what the output checks need."""

    datasets: dict[str, pa.Table]
    dimensions: dict[str, pa.Table]
    associations: pa.Table
    datastore_records: pa.Table
    collections: pa.Table
    collection_chains: pa.Table
    winners: set[bytes]  # dataset_ids find-first must export
    stats: dict

    def tables(self) -> dict[str, pa.Table]:
        return {
            **{f"datasets/{k}": v for k, v in self.datasets.items()},
            **{f"dimensions/{k}": v for k, v in self.dimensions.items()},
            "associations": self.associations,
            "datastore_records": self.datastore_records,
            "collections": self.collections,
            "collection_chains": self.collection_chains,
        }

    def write(self, root: str) -> tuple[dict[str, str], int]:
        """One parquet file per table under ``root``; returns logical name
        -> path, and the bytes written."""
        os.makedirs(root, exist_ok=True)
        paths, total = {}, 0
        for name, table in self.tables().items():
            path = os.path.join(root, name.replace("/", "__") + ".parquet")
            pq.write_table(table, path)
            paths[name] = path
            total += os.path.getsize(path)
        return paths, total


def _ids(rng: np.random.Generator, n: int) -> list[bytes]:
    return [bytes(row) for row in rng.integers(0, 256, size=(n, 16), dtype=np.uint8)]


def _col(values, typ: str) -> pa.Array:
    return pa.array(values, type={
        "int": pa.int32(), "bigint": pa.int64(), "string": pa.string(),
        "double": pa.float64(), "binary": pa.binary(),
    }[typ])


def generate(seed: int, n_data_ids: int) -> ButlerInput:
    """Butler tables for about ``n_data_ids`` data IDs of the large types
    (about 1.3 rows each after find-first duplicates)."""
    rng = np.random.default_rng(seed)

    # -- dimension records (a fifth of the visits unreferenced) --------------
    n_days = 30  # assumed
    day_obs = np.arange(20241101, 20241101 + n_days, dtype=np.int32)
    counts = {dim: max(4, int(n_data_ids * share / N_DETECTORS * 1.25))
              for _, dim, share in LARGE_TYPES}
    dims = {
        "day_obs": pa.table({
            "day_obs": _col(day_obs, "int"),
            "begin_nsec": _col(T0_NS + np.arange(n_days) * DAY_NS, "bigint"),
        }),
        "physical_filter": pa.table({
            "physical_filter": _col(FILTERS, "string"),
            "band": _col([f[0] for f in FILTERS], "string"),
        }),
        "detector": pa.table({
            "detector": _col(np.arange(N_DETECTORS), "int"),
            "full_name": _col([f"R22_S{d // 3}{d % 3}" for d in range(N_DETECTORS)], "string"),
            "purpose": _col(["SCIENCE"] * N_DETECTORS, "string"),
        }),
    }
    n = counts["visit"]
    dims["visit"] = pa.table({
        "visit": _col(2024110100000 + np.arange(n), "bigint"),
        "day_obs": _col(rng.choice(day_obs, n), "int"),
        "physical_filter": _col(rng.choice(FILTERS, n), "string"),
        "seeing": _col(rng.uniform(0.6, 2.0, n).round(4), "double"),
    })

    # -- large dataset types: find-first duplicates across chain runs --------
    datasets: dict[str, pa.Table] = {}
    winners: set[bytes] = set()
    n_ids_total = n_dup = 0
    for name, dim, share in LARGE_TYPES:
        combos = counts[dim] * N_DETECTORS
        idx = rng.choice(combos, size=min(int(n_data_ids * share), combos), replace=False)
        keys = dims[dim][dim].to_numpy()[idx // N_DETECTORS]
        detector = (idx % N_DETECTORS).astype(np.int32)
        r = rng.random(len(idx))
        copies = 1 + (r < DUP_2 + DUP_3).astype(int) + (r < DUP_3).astype(int)
        n_ids_total += len(idx)
        n_dup += int((copies > 1).sum())
        rep = np.repeat(np.arange(len(idx)), copies)
        # distinct chain runs per data ID: consecutive from a random start
        start = np.repeat(rng.integers(0, len(CHAIN_RUNS), len(idx)), copies)
        offset = np.concatenate([np.arange(c) for c in copies])
        pos = (start + offset) % len(CHAIN_RUNS)
        outside = rng.random(len(rep)) < OUTSIDE_SHARE
        runs = np.where(outside, OUTSIDE_RUN, np.array(CHAIN_RUNS, dtype=object)[pos])
        ids = _ids(rng, len(rep))
        # expected find-first winner per data ID: lowest chain position
        best: dict[int, tuple[int, bytes]] = {}
        for i, ds_id in enumerate(ids):
            if outside[i]:
                continue
            k = int(rep[i])
            if k not in best or pos[i] < best[k][0]:
                best[k] = (int(pos[i]), ds_id)
        winners.update(ds_id for _, ds_id in best.values())
        datasets[name] = pa.table({
            "dataset_id": _col(ids, "binary"),
            "run": _col(runs.tolist(), "string"),
            dim: _col(keys[rep], "bigint"),
            "detector": _col(detector[rep], "int"),
        })

    # -- calibration types: one dataset per validity interval ----------------
    calib_rows = []  # (dataset_id, detector, filter, begin, end)
    for name, per in CALIB_INTERVALS.items():
        keys = ([(d, None) for d in range(N_DETECTORS)] if name == "bias"
                else [(d, f) for d in range(N_DETECTORS) for f in FILTERS])
        rows = [(d, f, i) for d, f in keys for i in range(per)]
        ids = _ids(rng, len(rows))
        span = 90 * DAY_NS // per
        for (d, f, i), ds_id in zip(rows, ids):
            begin = T0_NS - 30 * DAY_NS + i * span
            calib_rows.append((ds_id, d, f, begin, None if i == per - 1 else begin + span))
        table = {
            "dataset_id": _col(ids, "binary"),
            "run": _col([CHAIN_RUNS[-1]] * len(rows), "string"),
            "detector": _col([d for d, _, _ in rows], "int"),
        }
        if name == "flat":
            table["physical_filter"] = _col([f for _, f, _ in rows], "string")
        datasets[name] = pa.table(table)
        winners.update(ids)  # calibration types bypass find-first

    # -- associations --------------------------------------------------------
    # One table whose data-ID columns are the union over the associated
    # types (visit_image is TAGGED; bias and flat are certified); columns a
    # row's type lacks are NULL.
    vi = datasets["visit_image"]
    tagged = vi.filter(pa.array(rng.random(vi.num_rows) < TAGGED_SHARE))
    n_tag, n_cal = tagged.num_rows, len(calib_rows)
    associations = pa.table({
        "dataset_id": _col(tagged["dataset_id"].to_pylist() + [r[0] for r in calib_rows], "binary"),
        "run": _col(tagged["run"].to_pylist() + [CHAIN_RUNS[-1]] * n_cal, "string"),
        "visit": _col(tagged["visit"].to_pylist() + [None] * n_cal, "bigint"),
        "detector": _col(tagged["detector"].to_pylist() + [r[1] for r in calib_rows], "int"),
        "physical_filter": _col([None] * n_tag + [r[2] for r in calib_rows], "string"),
        "collection": _col([TAGGED] * n_tag + [CALIB] * n_cal, "string"),
        "begin_nsec": _col([None] * n_tag + [r[3] for r in calib_rows], "bigint"),
        "end_nsec": _col([None] * n_tag + [r[4] for r in calib_rows], "bigint"),
    })

    # -- datastore records ---------------------------------------------------
    names, ds_ids, paths, sizes = [], [], [], []
    n_abs = n_zip = 0
    for type_name, table in datasets.items():
        ids = table["dataset_id"].to_pylist()
        runs = table["run"].to_pylist()
        u = rng.random(len(ids))
        secondary = rng.random(len(ids)) < SECONDARY_SHARE
        for i, (ds_id, run) in enumerate(zip(ids, runs)):
            hex_id = ds_id.hex()
            if type_name == "visit_image" and u[i] < ZIP_SHARE:
                zip_name = hashlib.md5(f"{run}/{i // ZIP_MEMBERS}".encode()).hexdigest()
                path = f"{RSP_PREFIX}{run}/{type_name}/{zip_name}.zip#{hex_id}.fits"
                n_zip += 1
            elif u[i] < ZIP_SHARE + ABSOLUTE_SHARE:
                path = f"{RSP_PREFIX}{run}/{type_name}/{hex_id}.fits"
                n_abs += 1
            else:
                path = f"{run}/{type_name}/{hex_id}.fits"
            size = int(rng.integers(1 << 10, 1 << 24))
            names.append("primary")
            ds_ids.append(ds_id)
            paths.append(path)
            sizes.append(size)
            if secondary[i]:
                names.append("secondary")
                ds_ids.append(ds_id)
                paths.append(f"file:///sdf/group/rubin/mirror/{run}/{hex_id}.fits")
                sizes.append(size)
    n_rec = len(names)
    datastore_records = pa.table({
        "datastore_name": _col(names, "string"),
        "dataset_id": _col(ds_ids, "binary"),
        "path": _col(paths, "string"),
        "formatter": _col(["lsst.obs.base.formatters.fitsExposure.FitsExposureFormatter"] * n_rec,
                          "string"),
        "storage_class": _col(["ExposureF"] * n_rec, "string"),
        "component": _col([None] * n_rec, "string"),
        "checksum": _col([hashlib.md5(i).hexdigest() for i in ds_ids], "string"),
        "file_size": _col(sizes, "bigint"),
    })

    collections = pa.table({
        "name": _col([*CHAIN_RUNS, OUTSIDE_RUN, TAGGED, CALIB, ROOT], "string"),
        "type": _col(["RUN"] * (len(CHAIN_RUNS) + 1) + ["TAGGED", "CALIBRATION", "CHAINED"],
                     "string"),
    })
    chains = pa.table({
        "parent": _col([ROOT] * len(CHAIN_RUNS), "string"),
        "child": _col(CHAIN_RUNS, "string"),
        "position": _col(list(range(len(CHAIN_RUNS))), "int"),
    })
    rows = {k: v.num_rows for k, v in datasets.items()}
    n_rows = sum(rows.values())
    stats = {
        "dataset_rows": n_rows,
        "dataset_rows_per_type": rows,
        "largest_type_share": round(max(rows.values()) / n_rows, 4),
        "dup_data_id_share": round(n_dup / n_ids_total, 4),
        "outside_chain_row_share": OUTSIDE_SHARE,
        "absolute_uri_share": round((n_abs + n_zip) / n_rows, 4),
        "zip_member_records": n_zip,
        "association_rows": associations.num_rows,
        "calibration_association_rows": n_cal,
        "datastore_records": n_rec,
        "dimension_rows": {k: v.num_rows for k, v in dims.items()},
    }
    return ButlerInput(datasets, dims, associations, datastore_records,
                       collections, chains, winners, stats)
