"""gedi_extract: the paper's lifecycle on seeded synthetic granules.

One pass is four ops:

- ``extract`` (write): ``api.extract_data`` for L2A and for L2B, each
  with the month filter, the quality filter, an AOI join and the
  GeoParquet sink partitioned by ``aoi_name``. L2A gets rectangles only
  (the zero-UDF predicate plan); L2B gets a 48-edge polygon (grid-indexed
  join plus the PIP pandas UDF, past the 32-edge crossover) and one AOI
  disjoint from the data.
- ``merge_grid`` (read): ``operators.joins.merge_products`` on the two
  returned frames, then ``operators.raster.grid_aggregate``, collected.
- ``readback`` (read), once per product: ``sources.shots.read_shots`` on
  the written output, aggregated over every column kind.

Every expectation comes from the generated numpy arrays, never from the
engine.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone
from pathlib import Path

import numpy as np

from gedixr_spark.constants import ALL_BEAMS
from perfbench.granules import NpzGranuleOpener, save_granule

FILTER_MONTH = (4, 9)
# inside the month band for 3 of every 4 granules; the rest are pruned
IN_MONTHS = (4, 5, 6, 7, 8, 9)
OUT_MONTHS = (1, 2, 3, 10, 11, 12)

SCALES = {
    # granules per product, shots per beam, grid cell size in degrees
    "full": {"granules": 6, "shots": 1000, "res": 0.1},
    "tiny": {"granules": 4, "shots": 60, "res": 0.5},
    "warm": {"granules": 1, "shots": 100, "res": 0.5},
}


class Truth:
    """Generated inputs of one product-pair set plus every expectation."""

    def __init__(self, directory: Path, seed: int, granules: int, shots: int, res: float):
        rng = np.random.default_rng(seed)
        self.dir = directory
        self.res = res
        self.aois = {"L2A": _rect_aois(rng), "L2B": _polygon_aois(rng)}
        cols: dict[str, list] = {k: [] for k in (
            "lon", "lat", "acq", "keep_L2A", "keep_L2B", "rh98", "rh100")}
        self.present = 2 * granules
        self.input_rows = 0
        for g in range(granules):
            month = int(rng.choice(OUT_MONTHS if g % 4 == 3 else IN_MONTHS))
            when = datetime(2020, month, int(rng.integers(1, 28)), int(rng.integers(0, 24)),
                            int(rng.integers(0, 60)), int(rng.integers(0, 60)), tzinfo=timezone.utc)
            token = when.strftime("%Y%j%H%M%S")
            in_band = FILTER_MONTH[0] <= month <= FILTER_MONTH[1]
            a: dict[str, np.ndarray] = {}
            b: dict[str, np.ndarray] = {}
            for i, beam in enumerate(ALL_BEAMS):
                n = shots
                shot = (np.uint64(g + 1) * np.uint64(10**8) + np.uint64(i * 10**6)
                        + np.arange(n, dtype=np.uint64))
                lat = rng.uniform(40, 55, n)
                lon = rng.uniform(-10, 10, n)
                elev = rng.uniform(0, 3000, n)
                geo = {
                    "lat_lowestmode": lat, "lon_lowestmode": lon, "elev_lowestmode": elev,
                    "digital_elevation_model": elev + rng.normal(0, 60, n),
                    "degrade_flag": (rng.random(n) < 0.05).astype(np.int8),
                }
                qa = (rng.random(n) < 0.9).astype(np.int8)
                qb = (rng.random(n) < 0.9).astype(np.int8)
                modes_a = rng.integers(0, 6, n).astype(np.int32)
                modes_b = rng.integers(0, 6, n).astype(np.int32)
                rh = (rng.random((n, 101), dtype=np.float32) * 60).astype(np.float32)
                rh100 = rng.uniform(0, 60, n)
                for k, v in geo.items():
                    a[f"{beam}/{k}"] = v
                    b[f"{beam}/geolocation/{k}"] = v
                a.update({f"{beam}/shot_number": shot, f"{beam}/quality_flag": qa,
                          f"{beam}/num_detectedmodes": modes_a,
                          f"{beam}/sensitivity": rng.uniform(0.85, 1.0, n), f"{beam}/rh": rh})
                b.update({f"{beam}/shot_number": shot, f"{beam}/l2b_quality_flag": qb,
                          f"{beam}/num_detectedmodes": modes_b,
                          f"{beam}/sensitivity": rng.uniform(0.85, 1.0, n),
                          f"{beam}/cover": rng.uniform(0, 1, n),
                          f"{beam}/fhd_normal": rng.uniform(0, 4, n),
                          f"{beam}/pai": rng.uniform(0, 10, n), f"{beam}/rh100": rh100})
                good = (geo["degrade_flag"] == 0) & (np.abs(elev - geo["digital_elevation_model"]) < 100)
                cols["lon"].append(lon)
                cols["lat"].append(lat)
                cols["acq"].append(np.full(n, int(when.timestamp()), dtype=np.int64))
                cols["keep_L2A"].append(good & in_band & (qa == 1) & (modes_a > 0))
                cols["keep_L2B"].append(good & in_band & (qb == 1) & (modes_b > 0))
                # the reader's rh<N> rule: array column N, metres to cm, rounded
                cols["rh98"].append(np.rint(rh[:, 98] * 100).astype(np.int32))
                cols["rh100"].append(rh100)
                self.input_rows += 2 * n
            stem = f"{token}_O{g + 1:05d}_02_T00001_02_003_01_V002.h5"
            save_granule(directory / f"GEDI02_A_{stem}", a)
            save_granule(directory / f"GEDI02_B_{stem}", b)
        self.cols = {k: np.concatenate(v) for k, v in cols.items()}
        self._expect()

    def _members(self, product: str) -> dict[str, np.ndarray]:
        c = self.cols
        return {name: c[f"keep_{product}"] & _inside(ring, c["lon"], c["lat"])
                for name, ring in self.aois[product].items()}

    def _expect(self) -> None:
        c = self.cols
        self.members = {p: self._members(p) for p in ("L2A", "L2B")}
        self.aoi_rows = {p: {n: int(m.sum()) for n, m in ms.items() if m.any()}
                         for p, ms in self.members.items()}
        self.aoi_acq = {p: {n: int(c["acq"][m].sum()) for n, m in ms.items() if m.any()}
                        for p, ms in self.members.items()}
        self.aoi_x = {p: {n: float(c["lon"][m].sum()) for n, m in ms.items() if m.any()}
                      for p, ms in self.members.items()}
        # merge multiplicity: one row per (L2B AOI row, L2A AOI row) pair
        mult = (sum(m.astype(np.int64) for m in self.members["L2A"].values())
                * sum(m.astype(np.int64) for m in self.members["L2B"].values()))
        sel = mult > 0
        lon, lat = c["lon"][sel], c["lat"][sel]
        w = mult[sel]
        x0, y0 = lon.min(), lat.max()
        row = np.floor((y0 - lat) / self.res).astype(np.int64)
        col = np.floor((lon - x0) / self.res).astype(np.int64)
        cell = row * 1_000_003 + col
        uniq, inv = np.unique(cell, return_inverse=True)
        n = np.bincount(inv, weights=w)
        self.grid = {
            "cells": uniq,
            "n_shots": n.astype(np.int64),
            "avg_rh98": np.bincount(inv, weights=w * c["rh98"][sel]) / n,
            "avg_rh100": np.bincount(inv, weights=w * c["rh100"][sel]) / n,
        }

    # -- output checks ----------------------------------------------------
    def check_extract(self, frames: dict) -> bool:
        import pyarrow.parquet as pq

        for product, (_df, out_path) in frames.items():
            got: dict[str, int] = {}
            for f in Path(out_path).rglob("*.parquet"):
                md = pq.ParquetFile(f)
                if b"geo" not in (md.schema_arrow.metadata or {}):
                    return False
                aoi = f.parent.name.split("=", 1)[1]
                got[aoi] = got.get(aoi, 0) + md.metadata.num_rows
            if got != self.aoi_rows[product]:
                return False
        return True

    def check_grid(self, pdf) -> bool:
        g = self.grid
        pdf = pdf.assign(cell=pdf["row"].astype(np.int64) * 1_000_003 + pdf["col"].astype(np.int64))
        pdf = pdf.sort_values("cell")
        if not np.array_equal(pdf["cell"].to_numpy(), g["cells"]):
            return False
        if not np.array_equal(pdf["n_shots"].to_numpy(np.int64), g["n_shots"]):
            return False
        return all(np.allclose(pdf[k].to_numpy(np.float64), g[k], rtol=1e-9, atol=0)
                   for k in ("avg_rh98", "avg_rh100"))

    def check_readback(self, product: str, rows) -> bool:
        got = {r["aoi_name"]: r for r in rows}
        if set(got) != set(self.aoi_rows[product]):
            return False
        for name, n in self.aoi_rows[product].items():
            r = got[name]
            if (r["n"] != n or r["acq"] != self.aoi_acq[product][name]
                    or not math.isclose(r["x"], self.aoi_x[product][name], rel_tol=1e-9)):
                return False
        return True


def _rect(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def _rect_aois(rng) -> dict[str, list]:
    x, y = rng.uniform(-8, -5), rng.uniform(41, 44)
    return {
        "rect_a": _rect(x, y, x + 7, y + 8),
        "rect_b": _rect(x + 5, y + 3, x + 13, y + 10),
        "rect_c": _rect(x + 2, y + 5, x + 6, y + 7),
    }


def _polygon_aois(rng) -> dict[str, list]:
    cx, cy = rng.uniform(-2, 2), rng.uniform(46, 49)
    k = np.arange(48)
    ang = 2 * np.pi * k / 48
    r = np.where(k % 2 == 0, 5.0, 3.5) * rng.uniform(0.9, 1.1, 48)
    star = [(float(cx + ri * np.cos(a)), float(cy + 0.8 * ri * np.sin(a))) for ri, a in zip(r, ang)]
    return {"star": star, "far_away": _rect(100.0, 0.0, 101.0, 1.0)}


def _wkt(ring) -> str:
    pts = list(ring) + [ring[0]]
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + "))"


def _inside(ring, px, py) -> np.ndarray:
    """Even-odd ray cast; generated points never lie on an edge."""
    inside = np.zeros(len(px), dtype=bool)
    n = len(ring)
    for i in range(n):
        (x1, y1), (x2, y2) = ring[i], ring[(i + 1) % n]
        if y1 == y2:
            continue
        cross = (y1 > py) != (y2 > py)
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= cross & (px < xint)
    return inside


class GediExtract:
    name = "gedi_extract"

    def __init__(self, scratch, seed: int, scale: str):
        self.scratch = scratch
        sizes = SCALES[scale]
        self.truth = Truth(scratch.sub("granules"), seed, sizes["granules"], sizes["shots"], sizes["res"])
        w = SCALES["warm"]
        self.warm = Truth(scratch.sub("granules-warm"), seed + 1, w["granules"], w["shots"], w["res"])
        self.opened = None
        self.error_acc = None
        self.stats: list[dict] = []

    def warm_up(self, spark) -> None:
        """First pandas UDF and first extraction: read one small granule
        (one task, so one Python worker starts)."""
        from gedixr_spark.constants import effective_schema
        from gedixr_spark.sources import hdf5

        inv = hdf5.discover_granules(spark, self.warm.dir, "L2B")
        hdf5.read_granules(inv, "L2B", effective_schema("L2B"),
                           granule_opener=NpzGranuleOpener()).count()

    def start(self, spark, traced: bool) -> None:
        from gedixr_spark.operators.stats import error_accumulator

        self.error_acc = error_accumulator(spark)
        self.opened = spark.sparkContext.accumulator(0) if traced else None

    def run_pass(self, spark, rec) -> None:
        rec.run_pass(lambda: self._pass(spark, rec), self.truth.input_rows)
        self.scratch.clear("out")

    def _pass(self, spark, rec) -> None:
        from pyspark.sql import functions as F

        from gedixr_spark import api
        from gedixr_spark.operators import joins, raster
        from gedixr_spark.sources import shots

        truth, opener = self.truth, NpzGranuleOpener(self.opened)
        out_dir = self.scratch.sub("out", f"p{rec.pass_no}")
        frames: dict = {}
        acc0 = self.opened.value if self.opened is not None else 0

        def extract():
            for product in ("L2A", "L2B"):
                frames[product] = api.extract_data(
                    spark, truth.dir, gedi_product=product, filter_month=FILTER_MONTH,
                    subset_vector={n: _wkt(r) for n, r in truth.aois[product].items()},
                    output_dir=out_dir, granule_opener=opener, error_acc=self.error_acc,
                )
            return frames

        rec.op("extract", "write", extract, check=truth.check_extract)
        acc1 = self.opened.value if self.opened is not None else 0
        written = [f.stat().st_size for f in out_dir.rglob("*.parquet")]

        def merge_grid():
            merged = joins.merge_products(frames["L2B"][0], frames["L2A"][0])
            return raster.grid_aggregate(
                merged, ["rh98", "rh100"], resolution=(-truth.res, truth.res),
                lon_col="geometry.x", lat_col="geometry.y",
            )

        grid = rec.op("merge_grid", "read", merge_grid, lambda g: g.toPandas(), truth.check_grid)
        for product in ("L2A", "L2B"):
            def read(product=product):
                return shots.read_shots(spark, frames[product][1]).groupBy("aoi_name").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.unix_seconds("acq_time")).alias("acq"),
                    F.sum("geometry.x").alias("x"),
                )

            rec.op("readback", "read", read, lambda df: df.collect(),
                   lambda rows, product=product: truth.check_readback(product, rows))
        if self.opened is not None:
            self.stats.append({
                "pass": rec.pass_no, "opened_extract": acc1 - acc0,
                "opened_pass": self.opened.value - acc0,
                "geo_bytes": sum(written), "geo_files": len(written),
                "cells": 0 if grid is None else len(grid),
            })

    # -- traced run -------------------------------------------------------
    def trace_hooks(self, tracer) -> None:
        from gedixr_spark import api
        from gedixr_spark.operators import joins, raster
        from gedixr_spark.sources import shots

        tracer.wrap(api, "discover_granules", "hdf5.discover_granules")
        tracer.wrap(api, "read_granules", "hdf5.read_granules")
        tracer.wrap(api, "spatial_join_aoi_auto", "joins.spatial_join_aoi_auto")
        tracer.wrap(api, "write_geoparquet", "geoparquet.write_geoparquet")
        tracer.wrap(joins, "merge_products", "joins.merge_products")
        tracer.wrap(raster, "grid_aggregate", "raster.grid_aggregate")
        tracer.wrap(shots, "read_shots", "shots.read_shots")

    def layer_counters(self, ops) -> dict[str, float]:
        from perfbench.harness import median

        st = self.stats
        merge_ops = [o for o in ops if o.kind == "merge_grid" and o.traced]
        return {
            "hdf5.granules_opened": median([s["opened_pass"] for s in st]),
            "hdf5.granules_failed": float(self.error_acc.value),
            "hdf5.prune_ratio": median([s["opened_extract"] for s in st]) / self.truth.present,
            "joins.python_nodes": median([o.info.get("udf_nodes", 0) for o in merge_ops]),
            "geoparquet.files": median([s["geo_files"] for s in st]),
            "geoparquet.bytes": median([s["geo_bytes"] for s in st]),
            "raster.cells": median([s["cells"] for s in st]),
        }
