"""Seeded benchmark inputs, generated without Spark and cached on disk.

Every table is a pure function of ``(seed, size)``: the pages table comes
from the program's own synth pages generator, the geometry layers from
``numpy.random.default_rng(seed)``. Tables are written with pyarrow
before the Spark session starts, so a run that generates its inputs and a
run that finds them cached start the JVM from the same state and measure
the same set-up time.

Cache layout: ``<cache_dir>/<table>-s<seed>-n<rows>/part-*.parquet``; a
directory only appears under its final name once every file is written.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed file count per table (not tied to the host's core count), so the
# same seed gives byte-identical inputs and scan task counts everywhere.
N_FILES = 8

VERTEX = pa.struct([("lat", pa.float64()), ("lon", pa.float64())])


def _write_table(path: str, table: pa.Table) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    os.makedirs(tmp)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(tmp, f"part-{i:03d}.parquet"))
    try:
        os.rename(tmp, path)
    except OSError:  # a concurrent run published the same table first
        shutil.rmtree(tmp, ignore_errors=True)


def cached(cache_dir: str, table: str, seed: int, rows: int, make) -> str:
    """Path of ``table`` for (seed, rows); ``make(seed, rows)`` builds it on a miss."""
    path = os.path.join(cache_dir, f"{table}-s{seed}-n{rows}")
    if not os.path.isdir(path):
        os.makedirs(cache_dir, exist_ok=True)
        _write_table(path, make(seed, rows))
    return path


# ---------------------------------------------------------------------------
# the fixed world: city centers and zones (synth_zones_pdf(seed=WORLD_SEED))
# ---------------------------------------------------------------------------

# The seed draws the data (which pages, where the points and polygons fall),
# never the world they fall into: city centers and the 16-zone layer come
# from this fixed synth seed. With seeded cities, two cities landing close
# together put one's cluster inside the other's zones on some seeds, which
# moved a pass's emitted rows by 20% from seed to seed.
WORLD_SEED = 42


# ---------------------------------------------------------------------------
# pages (resumable_ingest)
# ---------------------------------------------------------------------------

def make_pages(seed: int, rows: int) -> pa.Table:
    """Rows [seed·rows, (seed+1)·rows) of the world's ``synth_pages`` corpus:
    80% geotagged, 70% of those clustered on the 12 city centers. Synth rows
    are a pure function of the row index (``synth_pages(start=...)`` relies
    on the same property), so each seed gets its own pages."""
    from gaia_spark.synth import _pages_batch

    pdf = _pages_batch(np.arange(seed * rows, (seed + 1) * rows, dtype=np.int64), WORLD_SEED)
    # the generator's naive timestamps are UTC (the session time zone);
    # tz-aware microseconds read back as Spark TimestampType
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC").astype("datetime64[us, UTC]")
    return pa.Table.from_pandas(pdf, preserve_index=False)


# ---------------------------------------------------------------------------
# geometry layers (geometry_join)
# ---------------------------------------------------------------------------

def _centers(rng: np.random.Generator, n: int, spread: float) -> tuple[np.ndarray, np.ndarray]:
    """70% of centers near the world's city centers (where the zones sit, so
    the joins emit rows), 30% uniform over the globe."""
    from gaia_spark.synth import city_centers

    c_lat, c_lon = city_centers(seed=WORLD_SEED)
    city = rng.integers(0, len(c_lat), n)
    clustered = rng.random(n) < 0.7
    lat = np.where(
        clustered, c_lat[city] + rng.normal(0.0, spread, n), rng.uniform(-80.0, 80.0, n)
    )
    lon = np.where(
        clustered, c_lon[city] + rng.normal(0.0, spread, n), rng.uniform(-175.0, 175.0, n)
    )
    return np.clip(lat, -84.0, 84.0), np.clip(lon, -178.0, 178.0)


def _rings(lat: np.ndarray, lon: np.ndarray) -> pa.Array:
    """list<struct<lat, lon>> from (features × vertices) coordinate matrices."""
    n, k = lat.shape
    verts = pa.StructArray.from_arrays(
        [pa.array(lat.ravel()), pa.array(lon.ravel())], fields=list(VERTEX)
    )
    return pa.ListArray.from_arrays(pa.array(np.arange(0, n * k + 1, k, dtype=np.int32)), verts)


def make_points(seed: int, rows: int) -> pa.Table:
    """Points with an integer-valued ``val`` (0..999) for the zonal stats:
    its sums are exact in any summation order."""
    rng = np.random.default_rng([seed, 1])
    lat, lon = _centers(rng, rows, 1.2)
    val = rng.integers(0, 1000, rows).astype(np.float64)
    return pa.table({"pid": np.arange(rows, dtype=np.int64), "lat": lat, "lon": lon, "val": val})


def make_rect_parcels(seed: int, rows: int) -> pa.Table:
    """Axis-aligned 4-vertex parcels (closed 5-point rings), 0.05-0.5° half-sides."""
    rng = np.random.default_rng([seed, 2])
    clat, clon = _centers(rng, rows, 1.5)
    hh = rng.uniform(0.05, 0.5, rows)[:, None]
    hw = rng.uniform(0.05, 0.5, rows)[:, None]
    sy = np.array([-1.0, -1.0, 1.0, 1.0, -1.0])
    sx = np.array([-1.0, 1.0, 1.0, -1.0, -1.0])
    return pa.table(
        {
            "fid": np.arange(rows, dtype=np.int64),
            "vertices": _rings(clat[:, None] + hh * sy, clon[:, None] + hw * sx),
        }
    )


NGON_VERTICES = 512


def make_ngons(seed: int, rows: int) -> pa.Table:
    """Regular 512-gons (closed 513-point rings), radius 0.1-0.8°."""
    rng = np.random.default_rng([seed, 3])
    clat, clon = _centers(rng, rows, 1.5)
    r = rng.uniform(0.1, 0.8, rows)[:, None]
    ang = 2.0 * np.pi * (np.arange(NGON_VERTICES + 1) % NGON_VERTICES) / NGON_VERTICES
    return pa.table(
        {
            "fid": np.arange(rows, dtype=np.int64),
            "vertices": _rings(clat[:, None] + r * np.cos(ang), clon[:, None] + r * np.sin(ang)),
        }
    )


def make_sites(seed: int, rows: int) -> pd.DataFrame:
    """Site list for the broadcast kNN (small: lives on the driver)."""
    rng = np.random.default_rng([seed, 4])
    lat, lon = _centers(rng, rows, 3.0)
    return pd.DataFrame({"site_id": np.arange(1, rows + 1, dtype=np.int64), "lat": lat, "lon": lon})


# ---------------------------------------------------------------------------
# independent references for the output checks (numpy, no Spark)
# ---------------------------------------------------------------------------

def parsed_points(pages_path: str) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) of every page whose text matches the frozen geoparse
    grammar, parsed with Python's ``re`` rather than the JVM regex."""
    import re

    from gaia_spark.functions.geoparse import GEOPARSE_PATTERN_V1

    pattern = re.compile(GEOPARSE_PATTERN_V1)
    lat, lon = [], []
    for text in pq.read_table(pages_path, columns=["text"]).column("text").to_pylist():
        m = pattern.search(text)
        if m:
            lat.append(float(m.group(2)))
            lon.append(float(m.group(3)))
    return np.array(lat), np.array(lon)


def points_of(points_path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(points_path, columns=["lat", "lon"])
    return t.column("lat").to_numpy(), t.column("lon").to_numpy()


def within_pairs(lat: np.ndarray, lon: np.ndarray, zones_pdf: pd.DataFrame) -> int:
    """Number of (point, zone) pairs with the point strictly inside the zone:
    open bbox for rect zones, even-odd interior minus boundary for polygons
    (the numpy kernel, not the Spark SQL refine)."""
    from gaia_spark.functions.kernel import PreparedPolygon

    n = 0
    for z in zones_pdf.itertuples(index=False):
        box = (lat > z.min_lat) & (lat < z.max_lat) & (lon > z.min_lon) & (lon < z.max_lon)
        if z.kind == "rect":
            n += int(box.sum())
            continue
        prep = PreparedPolygon(
            np.array([v["lat"] for v in z.vertices]), np.array([v["lon"] for v in z.vertices])
        )
        la, lo = lat[box], lon[box]
        n += int((prep.contains(la, lo) & ~prep.on_boundary(la, lo)).sum())
    return n
