"""The two workloads: batch point-in-polygon + tiling, and image ingest
followed by interactive snapshot queries.

Each workload generates its inputs from the seed (``generate``, untimed and
without Spark), writes any table it reads (``build``, untimed), loads its
inputs into the session (``load``), and then runs jobs.
``job`` runs one unit of work through the engine's public API and returns its
output; ``check`` compares that output with the oracle and returns a list of
problems.  ``job`` takes a tracer: with a real one it runs the traced form,
in which each layer's result is materialised inside that layer's span.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

from spatialbench import inputs, oracles
from spatialbench.trace import NullTracer


@dataclass
class Sizes:
    pip_points: int = 100_000
    pip_zones: int = 400
    pip_tiles: int = 32  # tiles per axis over the [0, 100)^2 world
    mvt_share: float = 0.10  # share of the points inside the MVT tile window
    kernel_pairs: int = 20_000  # candidate pairs for the in-process kernel timing
    ingest_rows: int = 1_500
    query_rows: int = 50_000
    query_files: int = 16


@dataclass
class Output:
    """A job's result plus what the check needs to know about its inputs."""

    kind: str
    data: object
    context: object = None
    rows_s: float | None = None  # time spent on the input rows, if not the whole job
    requests: list = field(default_factory=list)  # (kind, latency) of each interactive request


class Workload:
    name = ""
    min_jobs = 3  # untraced jobs a run completes even if the window has passed
    min_traced_jobs = 1  # traced and untraced jobs each, with --trace 1
    warmup_jobs = 1

    def __init__(self, spark, seed: int, sizes: Sizes, workdir: str):
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.workdir = workdir

    def generate(self) -> None:
        raise NotImplementedError

    def build(self) -> None:
        """Untimed one-off set-up that needs the session."""

    def load(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int):
        """Untimed per-job preparation; the returned value is passed to job.
        Warm-up jobs (i < 0) are all prepared before the first one runs."""
        return None

    def job(self, i: int, prep, tracer) -> Output:
        raise NotImplementedError

    def check(self, out: Output) -> list[str]:
        raise NotImplementedError

    def rows_per_job(self, out: Output) -> int:
        raise NotImplementedError

    def info(self) -> dict:
        return {}


# -- pip_tile ------------------------------------------------------------------

class PipTile(Workload):
    """Batch path: contains-join of points to hexagons, tiling, per-(zone,
    tile) counts and MVT blobs for a tile window."""

    name = "pip_tile"

    def generate(self):
        s = self.sizes
        self.inp = inputs.gen_pip_tile(self.seed, s.pip_points, s.pip_zones, s.pip_tiles, s.mvt_share)
        self.expected = oracles.expected_pip_tile(self.inp)
        # fixed sample of candidate pairs (points inside a zone's bbox) for the
        # in-process kernel timing
        lon, lat = oracles.lonlat_from_phash(self.inp.phash)
        lbufs, rbufs = [], []
        for wkb, ring in zip(self.inp.zone_wkb, self.inp.rings):
            m = (lon >= ring[:, 0].min()) & (lon <= ring[:, 0].max())
            m &= (lat >= ring[:, 1].min()) & (lat <= ring[:, 1].max())
            for j in np.flatnonzero(m)[:200]:
                lbufs.append(wkb)
                rbufs.append(inputs.point_wkb(lon[j], lat[j]))
            if len(lbufs) >= s.kernel_pairs:
                break
        self.kernel_sample = (lbufs[: s.kernel_pairs], rbufs[: s.kernel_pairs])

    def load(self):
        import pyarrow as pa

        tbl = pa.table({"image_id": self.inp.image_id, "phash": self.inp.phash})
        self.points = self.spark.createDataFrame(tbl).cache()
        self.points.count()
        rows = [(int(z), bytearray(w)) for z, w in zip(self.inp.zone_ids, self.inp.zone_wkb)]
        self.zones = self.spark.createDataFrame(rows, "zone_id long, wkb binary")

    def _features(self, tiled):
        """Rows of the MVT window with in-tile pixel coordinates and ids."""
        from pyspark.sql import functions as F

        x0, y0, x1, y1 = self.inp.mvt_window
        lo, hi = self.inp.bounds[0], self.inp.bounds[2]
        tw = (hi - lo) / self.inp.tiles_per_axis
        px = F.floor((F.col("lon") - (F.col("tile_x") * tw + lo)) / tw * 4096)
        py = F.floor(((F.col("tile_y") + 1) * tw + lo - F.col("lat")) / tw * 4096)
        return (
            tiled.where(F.col("tile_x").between(x0, x1) & F.col("tile_y").between(y0, y1))
            .withColumn("px", F.least(F.lit(4095), F.greatest(F.lit(0), px)).cast("int"))
            .withColumn("py", F.least(F.lit(4095), F.greatest(F.lit(0), py)).cast("int"))
            .withColumn("fid", F.col("image_id") * self.inp.fid_stride + F.col("zone_id"))
        )

    def job(self, i, prep, tracer):
        from incubator_sedona_spark.operators.joins import spatial_join
        from incubator_sedona_spark.operators.mvt import mvt_tiles_df
        from incubator_sedona_spark.operators.tiling import assign_tiles
        from incubator_sedona_spark.sources.images import with_derived_points

        t = self.inp.tiles_per_axis
        keep = ["zone_id", "image_id", "lon", "lat"]
        pts = with_derived_points(self.points)
        if tracer is None:
            joined = spatial_join(self.zones, pts, "contains", right_point_cols=("lon", "lat"))
            tiled = assign_tiles(joined.select(keep), "lon", "lat", self.inp.bounds, t, t)
            tiled = tiled.select(keep + ["tile_x", "tile_y"]).persist()
            counts = tiled.groupBy("zone_id", "tile_x", "tile_y").count().collect()
            mvt = self._mvt(mvt_tiles_df, tiled)
            tiled.unpersist()
            return Output("pip_tile", (counts, mvt))

        with tracer.span("operators.joins.spatial_join"):
            joined = spatial_join(self.zones, pts, "contains", right_point_cols=("lon", "lat"))
            joined = joined.select(keep).persist()
            results = joined.count()
        tracer.record("operators.joins.shuffle_write_mb", tracer.last["shuffle_write_mb"])
        candidates = spatial_join(
            self.zones, pts, "contains", right_point_cols=("lon", "lat"), refine=False
        ).count()
        tracer.record("operators.joins.results", results)
        tracer.record("operators.joins.candidates", candidates)
        tracer.record("operators.joins.refine_ratio", results / max(candidates, 1))
        self._trace_cells(tracer, pts)
        with tracer.span("operators.tiling.assign"):
            tiled = assign_tiles(joined, "lon", "lat", self.inp.bounds, t, t)
            tiled = tiled.select(keep + ["tile_x", "tile_y"]).persist()
            tiled.count()
        counts = tiled.groupBy("zone_id", "tile_x", "tile_y").count().collect()
        with tracer.span("operators.mvt.encode"):
            mvt = self._mvt(mvt_tiles_df, tiled)
        tracer.record(
            "operators.mvt.features_per_s",
            sum(r[3] for r in mvt) / tracer.values["operators.mvt.encode_s"][-1],
        )
        self._trace_kernel(tracer)
        tiled.unpersist()
        joined.unpersist()
        return Output("pip_tile", (counts, mvt))

    def _mvt(self, mvt_tiles_df, tiled):
        return mvt_tiles_df(
            self._features(tiled), layer_name="photos", id_col="fid", property_cols=["zone_id"]
        ).collect()

    def _trace_cells(self, tracer, pts):
        """Cells each zone's bbox covers on the grid the join infers, from the
        same two bbox frames spatial_join passes to infer_grid."""
        from pyspark.sql import functions as F

        from incubator_sedona_spark.operators.joins import BBOX_COLS, infer_grid, with_bbox

        zones = with_bbox(self.zones).select(*BBOX_COLS)
        points = pts.select(*[F.col(c).alias(b) for c, b in zip(("lon", "lat", "lon", "lat"), BBOX_COLS)])
        grid = infer_grid([zones, points])
        cover = [len(grid.cover_bbox(*r)) for r in zones.collect()]
        tracer.record("cells.cover_cells_per_zone", float(np.mean(cover)))

    def _trace_kernel(self, tracer):
        from incubator_sedona_spark.geom import kernel as K

        lbufs, rbufs = self.kernel_sample
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            K.eval_predicate_batch("contains", lbufs, rbufs)
            times.append(time.perf_counter() - t0)
        tracer.record("geom.kernel.pairs_per_s", len(lbufs) / float(np.median(times)))

    def check(self, out):
        counts, mvt = out.data
        return oracles.check_pip_tile(self.expected, counts, mvt)

    def rows_per_job(self, out):
        return len(self.inp.image_id)

    def info(self):
        n_feat = sum(len(v) for v in self.expected[1].values())
        return {"points": len(self.inp.image_id), "zones": len(self.inp.rings),
                "tiles_per_axis": self.inp.tiles_per_axis,
                "zone_tile_groups": len(self.expected[0]), "mvt_features": n_feat}


# -- ingest_query --------------------------------------------------------------

_BATCH_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"


class IngestQuery(Workload):
    """Write path, then read path.  A job decodes and feature-extracts a
    batch of images, derives their points and commits the batch as a new
    snapshot of the landing table; then it answers one rectangle window, one
    hexagon window and one kNN query, ``ROUNDS`` times, against a
    range-partitioned snapshot table of points from the pip_tile
    distribution."""

    name = "ingest_query"
    # two rounds give each per-kind query median (query.<kind>_p50_s) about
    # ten samples per run
    ROUNDS = 2

    def generate(self):
        s = self.sizes
        pts = inputs.gen_points(self.seed, s.query_rows)
        self.ids, self.lon, self.lat = pts["image_id"], pts["lon"], pts["lat"]
        self.queries = inputs.gen_queries(self.seed, self.lon, self.lat, 3000)
        self.warm = inputs.gen_queries(self.seed + 7919, self.lon, self.lat, 3)
        self.landing = os.path.join(self.workdir, "ingest_table")
        self.location = os.path.join(self.workdir, "query_table")

    def build(self):
        import pyarrow as pa

        from incubator_sedona_spark.sources.snapshots import SnapshotTable

        wkb = inputs.points_wkb(self.lon, self.lat)
        tbl = pa.table({
            "image_id": self.ids, "lon": self.lon, "lat": self.lat, "wkb": wkb,
            "xmin": self.lon, "ymin": self.lat, "xmax": self.lon, "ymax": self.lat,
        })
        df = self.spark.createDataFrame(tbl)
        SnapshotTable(self.location).append(df.repartitionByRange(self.sizes.query_files, "lon", "lat"))

    def load(self):
        from incubator_sedona_spark.sources.snapshots import SnapshotTable

        self.ingest_table = SnapshotTable(self.landing)
        self.table = SnapshotTable(self.location)
        self.n_files = len(self.table.file_stats())

    def prepare(self, i):
        pdf = inputs.gen_ingest_batch(self.seed, i, self.sizes.ingest_rows)
        prev, _ = oracles.snapshot_state(self.landing)
        n = 3 * self.ROUNDS
        qs = self.warm if i < 0 else [self.queries[(n * i + k) % len(self.queries)] for k in range(n)]
        return pdf, prev, qs

    def job(self, i, prep, tracer):
        pdf, prev, qs = prep
        t0 = time.perf_counter()
        self._ingest(pdf, tracer)
        ingest_s = time.perf_counter() - t0
        answers, requests = [], []
        for q in qs:
            t0 = time.perf_counter()
            answers.append((q, self._query(q, tracer)))
            requests.append((q.kind, time.perf_counter() - t0))
        ctx = (prev, pdf["image_id"].to_numpy(), pdf["phash"].to_numpy())
        return Output("ingest_query", answers, ctx, rows_s=ingest_s, requests=requests)

    def _ingest(self, pdf, tracer):
        from incubator_sedona_spark.sources.images import image_features_df, with_derived_points

        df = self.spark.createDataFrame(pdf, _BATCH_SCHEMA)
        if tracer is None:
            self.ingest_table.append(with_derived_points(image_features_df(df)))
            return
        with tracer.span("sources.images.decode"):
            feats = with_derived_points(image_features_df(df)).persist()
            n = feats.count()
        tracer.record("sources.images.rows_per_s", n / tracer.values["sources.images.decode_s"][-1])
        tracer.record("sources.images.bad_rows", feats.where("NOT dec_ok").count())
        with tracer.span("sources.snapshots.append"):
            self.ingest_table.append(feats)
        tracer.record("sources.snapshots.files_written", len(oracles.snapshot_state(self.landing)[1]))
        feats.unpersist()

    def _query(self, q, tracer):
        from pyspark.sql import functions as F

        from incubator_sedona_spark.operators.joins import range_query
        from incubator_sedona_spark.operators.knn import knn_query

        if q.kind == "rect":
            x0, y0, x1, y1 = q.window
            prune = {"lon": (x0, x1), "lat": (y0, y1)}
        elif q.kind == "polygon":
            prune = {"lon": (q.ring[:, 0].min(), q.ring[:, 0].max()),
                     "lat": (q.ring[:, 1].min(), q.ring[:, 1].max())}
        else:
            prune = None
        tr = tracer or NullTracer()
        with tr.span("sources.snapshots.read"):
            df = self.table.read(self.spark, prune=prune)
            if tracer is not None:
                kept = len(df.inputFiles())
                df = df.persist()
                df.count()
        if tracer is not None:
            tracer.record("sources.snapshots.files_kept_frac", kept / self.n_files)
        if q.kind == "rect":
            res = (
                df.where(F.col("lon").between(x0, x1) & F.col("lat").between(y0, y1))
                .select("image_id").collect()
            )
            data = [r[0] for r in res]
        elif q.kind == "polygon":
            with tr.span("operators.joins.range_query"):
                res = range_query(df, q.wkb, "within", geom_col="wkb").select("image_id").collect()
            data = [r[0] for r in res]
        else:
            with tr.span("operators.knn.query"):
                res = knn_query(
                    df, q.qx, q.qy, q.k, x_col="lon", y_col="lat", tiebreak=["image_id"]
                ).select("image_id", "dist").collect()
            data = ([r[0] for r in res], [r[1] for r in res])
        if tracer is not None:
            df.unpersist()
        return data

    def check(self, out):
        prev, ids, phash = out.context
        problems = oracles.check_ingest(self.landing, prev, ids, phash)
        for q, data in out.data:
            if q.kind == "rect":
                exp = oracles.expected_rect(self.lon, self.lat, self.ids, q.window)
                problems += [f"rect: {p}" for p in oracles.check_ids(data, exp)]
            elif q.kind == "polygon":
                exp = oracles.expected_polygon(self.lon, self.lat, self.ids, q.ring)
                problems += [f"polygon: {p}" for p in oracles.check_ids(data, exp)]
            else:
                got, dist = data
                problems += [f"knn: {p}" for p in
                             oracles.check_knn(self.lon, self.lat, self.ids, q.qx, q.qy, q.k, got, dist)]
        return problems

    def rows_per_job(self, out):
        return self.sizes.ingest_rows

    def info(self):
        return {"rows_per_batch": self.sizes.ingest_rows, "queries_per_job": 3 * self.ROUNDS,
                "table_rows": len(self.ids), "table_files": self.n_files}


WORKLOADS = {w.name: w for w in (PipTile, IngestQuery)}
