"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``), runs one
timed operation per call (``op``), checks the output outside the timed
region, and in a traced run turns the spans into per-layer metrics.

An operation is a fixed round of two parts, so every operation of a
workload costs the same kind of work and the median of operation times
has one mode:

- ingest: a single-input point job, then a two-input counties + rails
  job, each Validate → Index → write indexed → Resolve → write resolved;
- query: one point-in-polygon query, then one radius query.

Only public program calls are used: ``job_from_dict``,
``validate_config``, ``index_job``, ``resolve_job``,
``write_partitioned_parquet``, ``read_source``,
``point_in_polygon_join``, ``h3_radius_join`` and the kernel functions
timed in ``kernels``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from perfbench import checks, datagen, kernels
from perfbench.trace import cover_stage_tasks, sql_metric, stage_sum

INGEST_LAYERS = (
    "config.wall_s", "readers.scan_s", "readers.input_bytes",
    "validator.wall_s", "validator.rows_dropped", "validator.core_busy_frac",
    "indexer.wall_s", "indexer.rows_out", "indexer.cells_per_feature",
    "indexer.core_busy_frac", "indexer.gc_s", "indexer.kernel_share",
    "resolver.wall_s", "resolver.rows_out", "resolver.shuffle_write_bytes",
    "resolver.spill_bytes", "resolver.core_busy_frac",
    "writers.indexed_s", "writers.resolved_s", "writers.files",
    "writers.bytes", "writers.partition_dirs",
)
QUERY_LAYERS = (
    "readers.scan_s", "readers.input_bytes",
    "geo_join.pip_s", "geo_join.radius_s", "geo_join.cover_tasks",
    "geo_join.pip_candidates_per_match", "geo_join.radius_candidates_per_match",
)
# per-layer metrics that only some workloads measure
WORKLOAD_LAYERS = tuple(dict.fromkeys(
    INGEST_LAYERS + ("session.default_width_job_s",) + QUERY_LAYERS))
# points in the job that ``default_width_job_s`` times
DEFAULT_WIDTH_POINTS = 2_000
# Warm ops a run makes at least (op 0 is the first op, not warm); a
# traced run needs at least one traced and one untraced warm op. A third
# warm op did not narrow the spread between runs (host speed from run to
# run dominates it) and costs 6-10 s a run.
MIN_WARM_OPS = 2


def _median(values):
    return statistics.median(list(values))


def _is_scan(node: str) -> bool:
    return node.startswith("Scan")


def _is_join(node: str) -> bool:
    return "Join" in node


def _tree_stats(path: str) -> tuple[int, int, int]:
    """(parquet files, their bytes, leaf partition directories)."""
    files = size = dirs = 0
    for dirpath, dirnames, filenames in os.walk(path):
        parquet = [f for f in filenames if f.endswith(".parquet")]
        files += len(parquet)
        size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in parquet)
        if parquet and not dirnames:
            dirs += 1
    return files, size, dirs


class Workload:
    # per-layer metrics this workload measures; the others are reported
    # as 0 and marked not applicable
    layers: tuple = ()

    def __init__(self, spark, seed: int, workdir: str, cores: int):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.cores = cores
        self.in_dir = os.path.join(workdir, "in")
        self.out_dir = os.path.join(workdir, "out")
        os.makedirs(self.in_dir, exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)

    def notes(self) -> list[str]:
        """Human-readable facts about the run's inputs (none here)."""
        return []


# --- ingest jobs -----------------------------------------------------------


class IngestPointsCountiesRail(Workload):
    """One op = two jobs, each into a fresh output directory:

    - ``points``: one POINT/WITHIN input from lat/lon columns at res 8,
      a fresh sensor batch every op (half uniform over the box, half
      around Zipf-weighted hot spots), so the single-input resolver runs
      and most cells are new to the workers' per-cell area cache;
    - ``shapes``: county-like POLYGON/PCT_AREA plus rail-like
      LINE/PCT_LENGTH inputs (WKT, with a few null or unparseable
      geometries the validator drops) at res 6, the same files every op,
      full-outer aligned by the multi-input resolver.
    """

    layers = INGEST_LAYERS + ("session.default_width_job_s",)
    work_unit = "features"
    point_res = 8
    shape_res = 6
    # lat0, lat1, lon0, lon1 of the sensor batches
    points_box = (35.0, 38.0, -102.0, -98.0)
    n_points = 20_000
    grid = (6, 4)  # counties: nx x ny
    origin = (-100.0, 35.0)
    n_rails = 2_000
    invalid_frac = 0.005

    def generate(self) -> dict:
        """Seeded static inputs (no files, no Spark); returns the frames."""
        rng = datagen.rng_for(self.seed, 3)
        self.box = datagen.grid_box(self.origin, *self.grid)
        self.county_rings = datagen.counties(rng, *self.grid, self.origin)
        self.rail_lines = datagen.rails(rng, self.n_rails, self.box)
        self.spots = datagen.hot_spots(datagen.rng_for(self.seed, 1),
                                       box=self.points_box)
        c_wkt, c_bad = datagen.with_invalid(
            rng, [datagen.ring_wkt(r) for r in self.county_rings],
            self.invalid_frac)
        r_wkt, r_bad = datagen.with_invalid(
            rng, [datagen.line_wkt(p) for p in self.rail_lines],
            self.invalid_frac)
        n_c, n_r = len(c_wkt), len(r_wkt)
        counties = pd.DataFrame({
            "county_id": np.arange(n_c, dtype=np.int64),
            "geometry": c_wkt,
            "population": rng.integers(1_000, 2_000_000, n_c).astype(np.int64),
            "income": np.round(rng.uniform(2e4, 1.5e5, n_c), 2),
        })
        rails = pd.DataFrame({
            "rail_id": np.arange(n_r, dtype=np.int64),
            "geometry": r_wkt,
            "traffic": np.round(rng.lognormal(3.0, 1.0, n_r), 3),
            "tons": rng.integers(0, 10_000, n_r).astype(np.int64),
        })
        self.shape_inputs = {
            "counties": ("county_id", counties, ["population", "income"], c_bad),
            "rails": ("rail_id", rails, ["traffic", "tons"], r_bad),
        }
        self.valid = {"counties": int((~c_bad).sum()),
                      "rails": int((~r_bad).sum()),
                      "sensors": self.n_points}
        self.input_rows = n_c + n_r + self.n_points
        return {"counties": counties, "rails": rails}

    @property
    def work_per_op(self) -> int:
        return sum(self.valid.values())

    def prepare(self):
        frames = self.generate()
        self.paths = {}
        for name, frame in frames.items():
            self.paths[name] = os.path.join(self.in_dir, f"{name}.parquet")
            datagen.write_parquet(frame, self.paths[name], 2 * self.cores)
        # resolved res-8 cells of earlier points jobs, to report how
        # many of a job's cells the workers can have seen before
        self.seen_cells: set = set()
        self.cell_stats: list = []

    def sensors(self, k: int) -> pd.DataFrame:
        return datagen.points(datagen.rng_for(self.seed, 2, k), self.n_points,
                              self.spots, box=self.points_box)

    def _points_job(self, k: int, frame: pd.DataFrame, res: int):
        """(job config dict, check inputs) of a single-input points job."""
        path = os.path.join(self.in_dir, f"sensors-{k}.parquet")
        datagen.write_parquet(frame, path, row_groups=2 * self.cores)
        cfg = {
            "name": "sensor-points", "version": "1.0.0",
            "h3_resolution": res,
            "output_path": os.path.join(self.out_dir, f"points-{k}"),
            "inputs": {"sensors": {
                "unique_id": "id", "geometry_type": "POINT",
                "method": "WITHIN", "path": path,
                "lat_column_name": "lat", "lon_column_name": "lng",
                "input_columns": ["reading", "events"],
            }},
        }
        return cfg, {"sensors": ("id", frame, ["reading", "events"],
                                 np.zeros(len(frame), dtype=bool))}

    def jobs(self, k: int):
        """[(tag, job config dict, inputs for ``checks.check_ingest``)]
        of op ``k``."""
        points_cfg, points_check = self._points_job(
            k, self.sensors(k), self.point_res)

        def spec(name, uid, gtype, method, cols):
            return {"unique_id": uid, "geometry_type": gtype, "method": method,
                    "path": self.paths[name], "geometry_column_name": "geometry",
                    "input_columns": cols}

        shapes_cfg = {
            "name": "counties-rail", "version": "1.0.0",
            "h3_resolution": self.shape_res,
            "output_path": os.path.join(self.out_dir, f"shapes-{k}"),
            "inputs": {
                "counties": spec("counties", "county_id", "POLYGON",
                                 "PCT_AREA", ["population", "income"]),
                "rails": spec("rails", "rail_id", "LINE", "PCT_LENGTH",
                              ["traffic", "tons"]),
            },
        }
        return [("points", points_cfg, points_check),
                ("shapes", shapes_cfg, self.shape_inputs)]

    def op(self, k: int, T) -> dict:
        parts, errs = {}, []
        for tag, cfg, check_inputs in self.jobs(k):
            seconds, job_errs = self._job(k, tag, cfg, check_inputs, T)
            parts[tag] = seconds
            errs += job_errs
        return {"kind": "round", "s": sum(parts.values()), "parts": parts,
                "errors": errs}

    def _job(self, k, tag, cfg, check_inputs, T):
        from h3_indexer_spark.config.loader import job_from_dict
        from h3_indexer_spark.plans.indexer import index_job
        from h3_indexer_spark.plans.resolver import resolve_job
        from h3_indexer_spark.plans.validator import validate_config
        from h3_indexer_spark.sources.writers import write_partitioned_parquet

        out = cfg["output_path"]
        job = None
        t0 = time.perf_counter()
        try:
            with T.span(f"job.{tag}", k) as root:
                with T.span("config.job_from_dict", k):
                    job = job_from_dict(cfg)
                with T.span("validator.validate_config", k) as sp:
                    validate_config(job, self.spark)
                    if T.enabled:  # materialize the persisted stage output
                        sp.counts["rows"] = sum(
                            vt.df.count() for vt in job.inputs.values())
                with T.span("indexer.index_job", k) as sp:
                    index_job(job, self.spark)
                    if T.enabled:
                        sp.counts["rows"] = sum(
                            vt.h3_indexed_df.count()
                            for vt in job.inputs.values())
                with T.span("writers.indexed", k):
                    for name, vt in job.inputs.items():
                        write_partitioned_parquet(
                            vt.h3_indexed_df, f"{out}/indexed/{name}")
                with T.span("resolver.resolve_job", k) as sp:
                    resolve_job(job, self.spark)
                    if T.enabled:
                        sp.counts["rows"] = job.h3_resolved_df.count()
                with T.span("writers.resolved", k):
                    write_partitioned_parquet(
                        job.h3_resolved_df, f"{out}/resolved")
            seconds = time.perf_counter() - t0
            errs = checks.check_ingest(out, cfg["h3_resolution"], check_inputs)
            if T.enabled:
                root.counts["tree"] = _tree_stats(out)
            if tag == "points":
                self._count_cells(out)
        except Exception as exc:  # a failing job counts, the run goes on
            seconds = time.perf_counter() - t0
            errs = [f"{tag} job raised {type(exc).__name__}: {exc}"[:300]]
        finally:
            self._release(job)
            shutil.rmtree(out, ignore_errors=True)
        return seconds, errs

    def default_width_job_s(self) -> float:
        """Wall time of one small points job at res 6 run at the
        program's own shuffle width for res 6 (``PARTITION_MAPPING``),
        instead of the benchmark's host-sized width: it shows the cost
        the width override keeps out of the end-to-end metrics."""
        from h3_indexer_spark.session import PARTITION_MAPPING
        from perfbench.trace import NullTracer

        frame = datagen.points(datagen.rng_for(self.seed, 6),
                               DEFAULT_WIDTH_POINTS, self.spots,
                               box=self.points_box)
        cfg, check = self._points_job(-1, frame, self.shape_res)
        conf = self.spark.conf
        width = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions",
                 str(PARTITION_MAPPING[self.shape_res]))
        try:
            seconds, errs = self._job(-1, "default-width", cfg, check,
                                      NullTracer())
        finally:
            conf.set("spark.sql.shuffle.partitions", width)
        if errs:
            raise RuntimeError(f"default-width job: {errs}")
        return seconds

    def _count_cells(self, out: str) -> None:
        hexes = set(ds.dataset(os.path.join(out, "resolved"), format="parquet")
                    .to_table(columns=["h3_index"]).column("h3_index")
                    .to_pylist())
        self.cell_stats.append((len(hexes), len(hexes & self.seen_cells)))
        self.seen_cells |= hexes

    def _release(self, job) -> None:
        """Drop the job's persisted frames so jobs stay independent,
        as separate CLI runs would be."""
        if job is not None:
            for vt in job.inputs.values():
                for df in (vt.df, vt.h3_indexed_df):
                    if df is not None:
                        df.unpersist()
            if job.h3_resolved_df is not None:
                job.h3_resolved_df.unpersist()
        self.spark.catalog.clearCache()

    def notes(self) -> list[str]:
        """Cell counts behind the workload's cache claims."""
        if not self.cell_stats:
            return []
        distinct = [d for d, _ in self.cell_stats]
        repeat = [r / d for d, r in self.cell_stats[1:]]
        return [f"points job: {_median(distinct):.0f} distinct res-8 cells "
                f"per job (median), {100 * max(repeat, default=0):.1f}% of "
                "a job's cells at most were in an earlier job"]

    def layer_metrics(self, tracer, ops, rates) -> dict:
        per_op = []
        for o in ops:
            if o["k"] == 0 or not o["traced"] or o["errors"]:
                continue
            spans = [s for s in tracer.spans if s.op == o["k"]]
            per_op.append(self._op_layers(spans, rates))
        out = {name: _median(m[name] for m in per_op) for name in INGEST_LAYERS}
        out["session.default_width_job_s"] = self.default_width_job_s()
        return out

    def _op_layers(self, spans, rates) -> dict:
        """Per-layer figures of one op: both jobs' spans of a layer
        added up."""
        c = self.cores

        def of(name):
            return [s for s in spans if s.name == name]

        def wall(name):
            return sum(s.wall for s in of(name))

        def busy(name):
            return stage_sum(of(name), "executorRunTime") / 1000.0 / (
                wall(name) * c)

        def rows(name):
            return sum(s.counts["rows"] for s in of(name))

        files = size = dirs = 0
        for root in (s for s in spans if s.name.startswith("job.")):
            f, b, d = root.counts["tree"]
            files, size, dirs = files + f, size + b, dirs + d
        kernel_core_s = sum(
            n / rates[rate] for n, rate in self.kernel_work())
        idx_rows = rows("indexer.index_job")
        return {
            "config.wall_s": wall("config.job_from_dict"),
            "readers.scan_s": sum(sql_metric(spans, _is_scan, "scan time")),
            "readers.input_bytes": stage_sum(spans, "inputBytes"),
            "validator.wall_s": wall("validator.validate_config"),
            "validator.rows_dropped":
                self.input_rows - rows("validator.validate_config"),
            "validator.core_busy_frac": busy("validator.validate_config"),
            "indexer.wall_s": wall("indexer.index_job"),
            "indexer.rows_out": idx_rows,
            "indexer.cells_per_feature": idx_rows / self.work_per_op,
            "indexer.core_busy_frac": busy("indexer.index_job"),
            "indexer.gc_s":
                stage_sum(of("indexer.index_job"), "jvmGcTime") / 1000.0,
            "indexer.kernel_share":
                kernel_core_s / (wall("indexer.index_job") * c),
            "resolver.wall_s": wall("resolver.resolve_job"),
            "resolver.rows_out": rows("resolver.resolve_job"),
            "resolver.shuffle_write_bytes":
                stage_sum(of("resolver.resolve_job"), "shuffleWriteBytes"),
            "resolver.spill_bytes":
                stage_sum(of("resolver.resolve_job"), "memoryBytesSpilled")
                + stage_sum(of("resolver.resolve_job"), "diskBytesSpilled"),
            "resolver.core_busy_frac": busy("resolver.resolve_job"),
            "writers.indexed_s": wall("writers.indexed"),
            "writers.resolved_s": wall("writers.resolved"),
            "writers.files": files,
            "writers.bytes": size,
            "writers.partition_dirs": dirs,
        }

    def kernel_work(self):
        return [(self.valid["counties"], "udfs.index_map_polygons.features_per_s"),
                (self.valid["rails"], "udfs.index_map_lines.features_per_s"),
                (self.valid["sensors"], "udfs.index_map_points.features_per_s")]

    def kernel_rates(self) -> dict:
        return kernels.kernel_rates(self.county_rings, self.rail_lines,
                                    self.sensors(0), self.shape_res,
                                    self.point_res)


# --- spatial-join queries -------------------------------------------------


class QuerySpatialJoin(Workload):
    """Closed loop, one client: each op is a point-in-polygon query of a
    fresh seeded point batch against the region table, then a radius
    query of another fresh batch against the depot table; each result is
    brought to the driver."""

    layers = QUERY_LAYERS
    work_unit = "queries"
    work_per_op = 2
    grid = (8, 6)
    origin = (-98.0, 38.0)
    n_depots = 400
    batch_points = 2000
    radius_km = 5.0
    pip_res = 6

    def generate(self) -> dict:
        """Seeded static tables (no files, no Spark); returns the frames."""
        rng = datagen.rng_for(self.seed, 4)
        self.rings = datagen.counties(rng, *self.grid, self.origin)
        self.box = datagen.grid_box(self.origin, *self.grid)
        regions = pd.DataFrame({
            "region_id": np.arange(len(self.rings), dtype=np.int64),
            "geom_wkt": [datagen.ring_wkt(r) for r in self.rings],
        })
        self.depots = datagen.depots(rng, self.n_depots, self.box)
        return {"regions": regions, "depots": self.depots}

    def prepare(self):
        from h3_indexer_spark.sources.readers import read_source

        frames = self.generate()
        rpath = os.path.join(self.in_dir, "regions.parquet")
        dpath = os.path.join(self.in_dir, "depots.parquet")
        datagen.write_parquet(frames["regions"], rpath)
        datagen.write_parquet(frames["depots"], dpath)
        self.regions_df = read_source(self.spark, path=rpath)
        self.depots_df = read_source(self.spark, path=dpath)

    def batch(self, q: int) -> pd.DataFrame:
        """Point batch of query ``q`` (op k runs queries 2k and 2k+1)."""
        return datagen.query_points(datagen.rng_for(self.seed, 5, q),
                                    self.batch_points, self.box,
                                    first_id=q * self.batch_points)

    def op(self, k: int, T) -> dict:
        parts, errs = {}, []
        for q, kind in ((2 * k, "pip"), (2 * k + 1, "radius")):
            parts[kind], query_errs = self._query(k, q, kind, T)
            errs += query_errs
        return {"kind": "round", "s": sum(parts.values()), "parts": parts,
                "errors": errs}

    def _query(self, k: int, q: int, kind: str, T):
        from h3_indexer_spark.operators.geo_join import (
            h3_radius_join,
            point_in_polygon_join,
        )

        pts = self.batch(q)
        t0 = time.perf_counter()
        try:
            with T.span(f"geo_join.{kind}", k) as sp:
                points = self.spark.createDataFrame(pts)
                if kind == "pip":
                    got = point_in_polygon_join(
                        points, self.regions_df, res=self.pip_res,
                        poly_cols=("region_id", "geom_wkt"),
                    ).select("pt_id", "pg_region_id").toPandas()
                else:
                    got = h3_radius_join(
                        points, self.depots_df, self.radius_km,
                        right_cols=("depot_id", "lat", "lng"),
                    ).toPandas()
                sp.counts["matches"] = len(got)
                sp.counts["query"] = q
            seconds = time.perf_counter() - t0
            if kind == "pip":
                errs = checks.check_pip(got.to_numpy().tolist(), pts, self.rings)
            else:
                errs = checks.check_radius(got.to_numpy().tolist(), pts,
                                           self.depots, self.radius_km)
        except Exception as exc:
            seconds = time.perf_counter() - t0
            errs = [f"{kind} query raised {type(exc).__name__}: {exc}"[:300]]
        return seconds, errs

    def layer_metrics(self, tracer, ops, rates) -> dict:
        warm = {o["k"] for o in ops
                if o["k"] > 0 and o["traced"] and not o["errors"]}
        spans = [s for s in tracer.spans if s.op in warm]
        pip = [s for s in spans if s.name == "geo_join.pip"]
        radius = [s for s in spans if s.name == "geo_join.radius"]
        n = len(spans)
        return {
            "readers.scan_s": sum(sql_metric(spans, _is_scan, "scan time")) / n,
            "readers.input_bytes": stage_sum(spans, "inputBytes") / n,
            "geo_join.pip_s": _median(s.wall for s in pip),
            "geo_join.radius_s": _median(s.wall for s in radius),
            "geo_join.cover_tasks": _median(cover_stage_tasks(s) for s in pip),
            "geo_join.pip_candidates_per_match": _median(
                max(sql_metric([s], _is_join, "number of output rows"))
                / max(1, s.counts["matches"]) for s in pip),
            "geo_join.radius_candidates_per_match": _median(
                self.radius_candidates(s.counts["query"])
                / max(1, s.counts["matches"]) for s in radius),
        }

    def radius_candidates(self, q: int) -> int:
        """(point, depot) pairs sharing a bucket before the distance
        filter. The optimizer folds that filter into the join, so the
        join's SQL row count already excludes them; the bucketing is
        replayed here with the public cell kernels instead."""
        from h3_indexer_spark.functions.h3.coverage import cell_neighbors
        from h3_indexer_spark.functions.h3.vectorized import (
            latlng_to_cell_batch,
        )
        from h3_indexer_spark.operators.geo_join import pick_res_for_radius

        res = pick_res_for_radius(self.radius_km)
        pts = self.batch(q)
        pcells = latlng_to_cell_batch(pts["lat"].to_numpy(),
                                      pts["lng"].to_numpy(), res)
        per_cell = pd.Series(pcells).value_counts()
        dcells = latlng_to_cell_batch(self.depots["lat"].to_numpy(),
                                      self.depots["lng"].to_numpy(), res)
        return int(sum(per_cell.get(c, 0)
                       for d in dcells
                       for c in [int(d), *cell_neighbors(int(d))]))

    def kernel_rates(self) -> dict:
        """The region polygons, their boundaries as lines, and a query
        batch as points."""
        return kernels.kernel_rates(self.rings, self.rings, self.batch(0),
                                    self.pip_res, self.pip_res)


WORKLOADS = {
    "ingest_points_counties_rail": IngestPointsCountiesRail,
    "query_spatial_join": QuerySpatialJoin,
}
