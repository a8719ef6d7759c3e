"""The benchmark workloads.

Each workload owns its inputs and does one *pass* per call to
``run_pass``: the same fixed amount of work every time, so pass wall times
are comparable samples. A pass returns what it emitted (row counts and
order-independent xxhash64 checksums) plus problems found while it ran;
``check`` tests the seed-independent invariants, and the runner compares
outputs with the first pass and with the goldens. With a tracing ``Tracer``
the pass also runs the prefix plan of each layer (see tracing.py) and
returns per-layer values.

Why these two (each leaves idle what the other stresses):

* ``resumable_ingest`` — the write path: pages → geoparse → cell join →
  lineage-tracked icelite commits, with an injected crash and an injected
  torn commit, then a resume. Many small jobs, so per-job overhead and
  per-unit rescans dominate, not per-row kernels. Idle: feature refine,
  kNN, zonal and tiling shuffles.
* ``geometry_join`` — text-free geometry: point join into zonal stats, the
  tile pyramid, rect and 512-gon feature refine, broadcast kNN. Idle:
  geoparse, icelite, lineage — a change to those must predict no change here.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F

from gaia_spark.functions.geoparse import geoparse
from gaia_spark.operators.feature_join import feature_spatial_join
from gaia_spark.operators.knn import knn_join_broadcast
from gaia_spark.operators.raster import point_tile_pyramid
from gaia_spark.operators.spatial_join import ZoneIndex, spatial_join, with_cell
from gaia_spark.operators.zonal import zonal_stats
from gaia_spark.sources.icelite import IceTable
from gaia_spark.sources.lineage import ResumableJob
from gaia_spark.synth import synth_zones_pdf

import inputs

# Per-size input row counts. "bench" is what the benchmark measures; "tiny"
# is the smoke-test size (same code paths, seconds per pass).
SIZES = {
    "bench": {"pages": 50_000, "points": 100_000, "parcels": 10_000,
              "ngons": 500, "knn_points": 5_000, "sites": 32},
    "tiny": {"pages": 4_000, "points": 20_000, "parcels": 4_000,
             "ngons": 200, "knn_points": 2_000, "sites": 32},
}
N_ZONES = 16
PYRAMID_ZOOMS = (4, 8)
KNN_K = 3

LAYERS = ("scan", "geoparse", "spatial_join", "feature_join", "knn", "zonal", "raster")


@dataclass
class PassResult:
    wall_s: float
    pages: int
    join_rows: int
    attempted: int
    outputs: dict = field(default_factory=dict)   # output name -> [rows, checksum]
    problems: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)    # traced passes only
    samples: dict = field(default_factory=dict)   # name -> list of timings
    values: dict = field(default_factory=dict)    # per-pass scalars (resume_s, ...)


def layer_stats(rec: dict, base: dict | None = None) -> dict:
    """Self time and stage counters of a prefix span minus its base prefix."""
    out = {"self_s": rec["dur"] - (base["dur"] if base else 0.0)}
    for k, v in rec["stages"].items():
        out[k] = v - (base["stages"][k] if base else 0)
    return out


def add_layer(acc: dict, layer: str, stats: dict) -> None:
    for k, v in stats.items():
        acc[f"{layer}.{k}"] = acc.get(f"{layer}.{k}", 0) + v


def candidate_pairs(spark, points, index: ZoneIndex) -> tuple[int, int]:
    """Filter-step output of the cell join, measured from outside: points ⋈
    broadcast cover on cell. Returns (candidate pairs, pairs on full cells)."""
    cand = with_cell(points.where(F.col("lat").isNotNull()), index.res, out="cell").join(
        F.broadcast(index.cover_df(spark)), "cell"
    )
    row = cand.agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("full").cast("long")).alias("f")).first()
    return int(row["n"]), int(row["f"] or 0)


class Workload:
    name = ""
    IDLE: tuple = ()  # layers this workload never calls: their counters read 0

    def __init__(self, seed: int, size: str, cache_dir: str, work_dir: str):
        self.seed = seed
        self.rows = SIZES[size]
        self.cache_dir = cache_dir
        self.work_dir = work_dir
        self.index: ZoneIndex | None = None
        self.reference: dict = {}

    def prepare_inputs(self) -> None:
        """Generate (or find cached) input tables; runs before Spark starts."""

    def setup(self, spark) -> float:
        """Build the driver-side structures a pass needs; returns the
        ``ZoneIndex.build`` seconds."""
        t0 = time.perf_counter()
        self.index = ZoneIndex.build(synth_zones_pdf(N_ZONES, seed=inputs.WORLD_SEED))
        return time.perf_counter() - t0

    def compute_reference(self) -> None:
        """Right-hand sides of the seed-independent output invariants,
        computed from the input files without Spark."""

    def run_pass(self, spark, tracer) -> PassResult:
        raise NotImplementedError

    def check(self, res: PassResult) -> list:
        """Seed-independent invariants of one pass's outputs."""
        return []

    def probe_counts(self, spark, last: PassResult) -> tuple[dict, list]:
        """Deterministic per-layer counts, measured once per run after the
        passes from the program's own output, and the problems found when
        they are checked against the references."""
        return {}, []


# ---------------------------------------------------------------------------

class _TornCommit(RuntimeError):
    """Raised by the benchmark's lineage wrapper after the data append landed."""


class _RecordingTable(IceTable):
    """IceTable that records the wall time of every append it serves."""

    def __init__(self, path: str, on_append):
        super().__init__(path)
        self.on_append = on_append

    def append(self, df, meta=None):
        t0 = time.perf_counter()
        manifest = super().append(df, meta)
        self.on_append(t0, time.perf_counter(), manifest)
        return manifest


class _TornLineage(_RecordingTable):
    """Lineage table whose ``tear_at``-th append fails without writing: the
    unit's data commit has landed but its lineage row never does."""

    def __init__(self, path: str, on_append, tear_at: int):
        super().__init__(path, on_append)
        self.tear_at = tear_at
        self.calls = 0

    def append(self, df, meta=None):
        self.calls += 1
        if self.calls == self.tear_at:
            raise _TornCommit(f"torn commit on lineage append {self.calls}")
        return super().append(df, meta)


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class ResumableIngest(Workload):
    """ResumableJob over two six-month warc_ts units; each unit geoparses and
    joins its months and appends to a fresh output IceTable. Each pass
    injects a crash after the first unit (``fail_after``), then a torn commit
    on the first unit of the restart, then resumes to completion: done-unit
    lookup, rollback of the orphaned data commit, the remaining unit."""

    name = "resumable_ingest"
    JOB_ID = "perfbench-ingest"
    UNITS = ["2025-01", "2025-07"]  # first month of each unit
    UNIT_MONTHS = 6
    CRASH_AFTER = 1
    TEAR_AT = 1
    IDLE = ("feature_join", "knn", "zonal", "raster")

    def prepare_inputs(self) -> None:
        self.pages_path = inputs.cached(
            self.cache_dir, "pages", self.seed, self.rows["pages"], inputs.make_pages
        )

    def pages(self, spark):
        return spark.read.parquet(self.pages_path)

    def compute_reference(self) -> None:
        lat, lon = inputs.parsed_points(self.pages_path)
        self.reference = {
            "join_rows": inputs.within_pairs(lat, lon, synth_zones_pdf(N_ZONES, seed=inputs.WORLD_SEED)),
            "geotagged": len(lat),
        }

    def probe_counts(self, spark, last: PassResult) -> tuple[dict, list]:
        parsed_df = geoparse(self.pages(spark))
        row = parsed_df.agg(F.count(F.lit(1)).alias("n"), F.count("lat").alias("parsed")).first()
        rows_in, parsed = int(row["n"]), int(row["parsed"])
        rows_out = spatial_join(parsed_df, self.index, "within").count()
        cand, full = candidate_pairs(spark, parsed_df, self.index)
        problems = []
        if parsed != self.reference["geotagged"]:
            problems.append(f"geoparse parsed {parsed} pages, the reference grammar "
                            f"{self.reference['geotagged']}")
        if rows_out != self.reference["join_rows"]:
            problems.append(f"one-shot join emits {rows_out} rows, reference {self.reference['join_rows']}")
        return {
            "spatial_join.candidate_pairs": cand,
            "spatial_join.full_cell_share": full / max(cand, 1),
            "spatial_join.refine_ratio": rows_out / max(cand, 1),
            "spatial_join.rows_out": rows_out,
            "spatial_join.cover_cells": len(self.index.cover_pdf),
            "geoparse.rows_in": rows_in,
            "geoparse.rows_parsed": parsed,
            "geoparse.yield": parsed / max(rows_in, 1),
        }, problems

    def _process(self, spark, unit: str):
        self._unit_t0 = time.perf_counter()
        self._actions += 1  # the unit's data commit
        y, m = (int(x) for x in unit.split("-"))
        end = m - 1 + self.UNIT_MONTHS
        nxt = f"{y + end // 12}-{end % 12 + 1:02d}"
        pages = self.pages(spark).where(
            (F.col("warc_ts") >= F.lit(f"{unit}-01 00:00:00").cast("timestamp"))
            & (F.col("warc_ts") < F.lit(f"{nxt}-01 00:00:00").cast("timestamp"))
        )
        g = geoparse(pages)
        out = spatial_join(g, self.index, "within").select("url", "zone_id", "lat", "lon")
        if self._tracer.enabled:
            t = self._tracer
            scan = t.noop("scan", pages.select("url", "text"))
            geo = t.noop("geoparse", g.select("url", "extracted", "lat", "lon"))
            sj = t.noop("spatial_join", out)
            add_layer(self._layers, "scan", layer_stats(scan))
            add_layer(self._layers, "geoparse", layer_stats(geo, scan))
            add_layer(self._layers, "spatial_join", layer_stats(sj, geo))
            self._actions += 3
        return out

    def run_pass(self, spark, tracer) -> PassResult:
        self._tracer = tracer
        self._layers: dict = {}
        self._actions = 0
        commits, data_appends = [], []

        def on_data(t0, t1, manifest):
            data_appends.append((t1 - t0, manifest))

        def on_lineage(t0, t1, manifest):
            commits.append(t1 - self._unit_t0)

        d = os.path.join(self.work_dir, "ingest")
        shutil.rmtree(d, ignore_errors=True)
        out = _RecordingTable(os.path.join(d, "out"), on_data)
        lin_path = os.path.join(d, "lineage")
        lin = _RecordingTable(lin_path, on_lineage)
        problems = []
        values = {}

        t0 = time.perf_counter()
        try:
            ResumableJob(spark, self.JOB_ID, out, lin).run(
                self.UNITS, self._process, fail_after=self.CRASH_AFTER
            )
            problems.append("injected crash did not fire")
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        torn = _TornLineage(lin_path, on_lineage, self.TEAR_AT)
        try:
            ResumableJob(spark, self.JOB_ID, out, torn).run(self.UNITS, self._process)
            problems.append("injected torn commit did not fire")
        except _TornCommit:
            pass
        t_resume = time.perf_counter()
        job = ResumableJob(spark, self.JOB_ID, out, lin)
        if tracer.enabled:
            with tracer.span("lineage.done_units") as s:
                done = job.done_units()
            self._layers["lineage.done_units_s"] = s["dur"]
            with tracer.span("icelite.rollback") as s:
                pruned = out.rollback_uncommitted_units(self.JOB_ID, done)
            self._layers["icelite.rollback_s"] = s["dur"]
            self._layers["lineage.orphans_pruned"] = pruned
        result = job.run(self.UNITS, self._process)
        end = time.perf_counter()
        values["resume_s"] = end - t_resume
        wall = end - t0

        expected = {"processed": len(self.UNITS) - self.CRASH_AFTER - self.TEAR_AT + 1,
                    "skipped": self.CRASH_AFTER + self.TEAR_AT - 1}
        if result != expected:
            problems.append(f"resume processed {result}, expected {expected}")
        rows, distinct, checksum = self._check_output(spark, out)
        if distinct != rows:
            problems.append(f"{rows - distinct} duplicate (url, zone_id) rows in output")
        if job.done_units() != set(self.UNITS):
            problems.append("lineage does not mark every unit done")

        out_bytes = _tree_bytes(out.path)
        values["output_bytes_per_row"] = out_bytes / max(rows, 1)
        layers = self._layers
        if tracer.enabled:
            layers["lineage.units_skipped"] = result["skipped"]
            layers["lineage.units_recomputed"] = result["processed"]
            added_files = [f for _, m in data_appends for f in m["added"]]
            added_rows = sum(m["meta"]["added_rows"] for _, m in data_appends)
            layers["icelite.files_per_commit"] = len(added_files) / max(len(data_appends), 1)
            layers["icelite.bytes_written_per_row"] = (
                sum(os.path.getsize(f) for f in added_files) / max(added_rows, 1)
            )
            layers["icelite.manifest_bytes"] = _tree_bytes(out.manifest_dir)
        shutil.rmtree(d, ignore_errors=True)
        return PassResult(
            wall_s=wall,
            pages=self.rows["pages"],
            join_rows=rows,
            attempted=self._actions,
            outputs={"ingest": [rows, checksum]},
            problems=problems,
            layers=layers,
            samples={"unit_commit_s": commits, "icelite.append_s": [t for t, _ in data_appends]},
            values=values,
        )

    def check(self, res: PassResult) -> list:
        rows, want = res.join_rows, self.reference["join_rows"]
        return [] if rows == want else [f"output has {rows} rows, one-shot join emits {want}"]

    def _check_output(self, spark, table: IceTable) -> tuple[int, int, int]:
        row = table.read(spark).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("url", "zone_id").alias("d"),
            F.sum(F.xxhash64("url", "zone_id").cast("decimal(38,0)")).alias("h"),
        ).first()
        return int(row["n"]), int(row["d"]), int(row["h"] or 0)


# ---------------------------------------------------------------------------

class GeometryJoin(Workload):
    """Text-free geometry over pre-materialized seeded layers: point
    spatial_join(within) feeding zonal_stats (exact median), the z4–8 point
    tile pyramid, feature_spatial_join(intersects) on rect parcels and on
    512-gons, and knn_join_broadcast(k=3) against a site list."""

    name = "geometry_join"
    IDLE = ("geoparse", "icelite", "lineage")

    ZONAL_HASHED = ["zone_id", "count", "min", "max", "mean", "median", "sum"]
    # checksum key columns of each join, its layer and the scan it extends
    JOINS = {"parcels_intersects": (["fid", "zone_id"], "feature_join", "parcels"),
             "ngons_intersects": (["fid", "zone_id"], "feature_join", "ngons"),
             "knn": (["pid", "site_id", "rank"], "knn", "knn_points")}

    def prepare_inputs(self) -> None:
        r, c, s = self.rows, self.cache_dir, self.seed
        self.paths = {
            "points": inputs.cached(c, "points", s, r["points"], inputs.make_points),
            "parcels": inputs.cached(c, "parcels", s, r["parcels"], inputs.make_rect_parcels),
            "ngons": inputs.cached(c, "ngons", s, r["ngons"], inputs.make_ngons),
        }

    def setup(self, spark) -> float:
        index_build_s = super().setup(spark)
        self.sites = inputs.make_sites(self.seed, self.rows["sites"])
        return index_build_s

    def _inputs(self, spark):
        read = {k: spark.read.parquet(p) for k, p in self.paths.items()}
        read["knn_points"] = read["points"].where(F.col("pid") < self.rows["knn_points"])
        return read

    def run_pass(self, spark, tracer) -> PassResult:
        traced = tracer.enabled
        layers: dict = {}
        t0 = time.perf_counter()
        src = self._inputs(spark)
        within = spatial_join(src["points"], self.index, "within", point_key="pid")
        zonal = zonal_stats(within, "val")
        pyramid = point_tile_pyramid(src["points"], max_zoom=PYRAMID_ZOOMS[1], min_zoom=PYRAMID_ZOOMS[0])
        joins = {
            "parcels_intersects": feature_spatial_join(
                src["parcels"], self.index, "intersects", feature_key="fid"),
            "ngons_intersects": feature_spatial_join(
                src["ngons"], self.index, "intersects", feature_key="fid"),
            "knn": knn_join_broadcast(src["knn_points"], self.sites, k=KNN_K, point_key="pid"),
        }
        n_spans = len(tracer.spans)
        if traced:
            scans = {k: tracer.noop(f"scan.{k}", src[k]) for k in ("points", "parcels", "ngons", "knn_points")}
            for rec in scans.values():
                add_layer(layers, "scan", layer_stats(rec))
            sj = tracer.noop("spatial_join", within.select("zone_id", "val"))
            add_layer(layers, "spatial_join", layer_stats(sj, scans["points"]))
            add_layer(layers, "zonal", layer_stats(tracer.noop("zonal", zonal), sj))
            add_layer(layers, "raster", layer_stats(tracer.noop("raster", pyramid), scans["points"]))
            for name, df in joins.items():
                _, layer, scan = self.JOINS[name]
                add_layer(layers, layer, layer_stats(tracer.noop(name, df), scans[scan]))

        # ONE action a pass — every output reduced to (op, n, row hash) and
        # unioned — so the per-job overhead is paid once, not five times
        parts = [
            zonal.select(F.lit("zonal").alias("op"), F.col("count").alias("n"),
                         F.xxhash64(*self.ZONAL_HASHED).alias("h")),
            pyramid.select(F.concat(F.lit("pyramid_z"), F.col("zoom").cast("string")).alias("op"),
                           F.col("n"), F.xxhash64("zoom", "tx", "ty", "n").alias("h")),
        ] + [
            df.select(F.lit(name).alias("op"), F.lit(1).cast("long").alias("n"),
                      F.xxhash64(*self.JOINS[name][0]).alias("h"))
            for name, df in joins.items()
        ]
        union = parts[0]
        for part in parts[1:]:
            union = union.unionByName(part)
        with tracer.span("geometry_join"):
            rows = union.groupBy("op").agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("n").alias("n"),
                F.sum(F.col("h").cast("decimal(38,0)")).alias("h"),
            ).collect()
        wall = time.perf_counter() - t0
        got = {r["op"]: r for r in rows}
        if traced:
            layers["raster.tiles_out"] = sum(
                r["rows"] for op, r in got.items() if op.startswith("pyramid_z"))

        outputs = {op: [int(r["rows"]), int(r["h"])] for op, r in sorted(got.items())}
        within_rows = int(got["zonal"]["n"]) if "zonal" in got else 0
        return PassResult(
            wall_s=wall,
            pages=self.rows["points"],
            join_rows=within_rows + sum(outputs.get(name, [0])[0] for name in joins),
            # a traced pass records one span per action: the prefix plans
            # and the union; an untraced pass runs the union only
            attempted=len(tracer.spans) - n_spans if traced else 1,
            outputs=outputs,
            layers=layers,
            values={
                "within_rows": within_rows,
                "pyramid_zoom_sums": {int(op[len("pyramid_z"):]): int(r["n"])
                                      for op, r in got.items() if op.startswith("pyramid_z")},
            },
        )

    def compute_reference(self) -> None:
        lat, lon = inputs.points_of(self.paths["points"])
        self.reference = {
            "within_rows": inputs.within_pairs(lat, lon, synth_zones_pdf(N_ZONES, seed=inputs.WORLD_SEED)),
            "knn_rows": self.rows["knn_points"] * min(KNN_K, self.rows["sites"]),
            "points": len(lat),
        }

    def check(self, res: PassResult) -> list:
        ref, problems = self.reference, []
        if res.values["within_rows"] != ref["within_rows"]:
            problems.append(
                f"zonal counts sum to {res.values['within_rows']}, "
                f"points within zones {ref['within_rows']}"
            )
        knn_rows = res.outputs.get("knn", [0])[0]
        if knn_rows != ref["knn_rows"]:
            problems.append(f"knn emitted {knn_rows} rows, expected {ref['knn_rows']}")
        sums = res.values["pyramid_zoom_sums"]
        for z in range(PYRAMID_ZOOMS[0], PYRAMID_ZOOMS[1] + 1):
            if sums.get(z) != ref["points"]:
                problems.append(f"pyramid zoom {z} sums to {sums.get(z)}, points {ref['points']}")
        return problems

    def probe_counts(self, spark, last: PassResult) -> tuple[dict, list]:
        src = self._inputs(spark)
        cand, full = candidate_pairs(spark, src["points"], self.index)
        vertices = src["parcels"].unionByName(src["ngons"]).agg(
            F.sum(F.size("vertices")).alias("v")).first()["v"]
        knn_points = src["knn_points"].count()
        rows = last.values["within_rows"]
        return {
            "spatial_join.candidate_pairs": cand,
            "spatial_join.full_cell_share": full / max(cand, 1),
            "spatial_join.rows_out": rows,
            "spatial_join.refine_ratio": rows / max(cand, 1),
            "spatial_join.cover_cells": len(self.index.cover_pdf),
            "feature_join.rows_out": last.outputs["parcels_intersects"][0]
            + last.outputs["ngons_intersects"][0],
            "feature_join.vertices_in": int(vertices),
            "knn.rows_out": last.outputs["knn"][0],
            "knn.distance_evals": knn_points * len(self.sites),
        }, []


WORKLOADS = {w.name: w for w in (ResumableIngest, GeometryJoin)}
