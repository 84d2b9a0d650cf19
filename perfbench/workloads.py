"""The three benchmark workloads.

Each workload builds its seeded inputs in ``prepare``, runs one untraced
pass in ``run_pass`` (timed, closed loop: one operation at a time), one
traced pass in ``traced_pass`` (every layer prefix materialised to the noop
sink, self time = prefix time minus the previous prefix's time) and its
once-per-run output check in ``oracle_check``.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field

import numpy as np
import pyspark.sql.functions as F

from harness import Tracer, clean_dir, materialize, rows_fingerprint, spark_fingerprint
from inputs import SF_DIR, Size, cached, entry_dir, parcels_table, sites_pdf, write_pages, zones_pdf


@dataclass
class PassResult:
    seconds: float  # wall time of the pass's operations
    ops: list[tuple[str, float]]  # (operation, latency s), in run order
    outputs: dict[str, tuple] = field(default_factory=dict)  # op -> fingerprint


# ---------------------------------------------------------------------------
# crawl_ingest
# ---------------------------------------------------------------------------

class CrawlIngest:
    """pages -> geoparse -> spatial_join(within) vs 16 synth zones, committed
    one unit per lang into an IceTable by ResumableJob (jobs/spatial_join.py)."""

    name = "crawl_ingest"
    # the first pass after the cold one still runs about 8 % slower
    warmup_passes = 2

    def __init__(self, seed: int, size: Size, run_dir: str, size_name: str):
        self.seed, self.size = seed, size
        self.dir = entry_dir(self.name, seed, size_name)
        self.work = os.path.join(run_dir, self.name)
        self.input_rows = size.pages
        self._n = 0
        self.last = None

    def prepare(self, spark) -> None:
        from gaia_spark.operators.spatial_join import ZoneIndex

        self.pages_path = cached(
            os.path.join(self.dir, "pages"),
            lambda p: write_pages(spark, os.path.join(p, "data"), self.size.pages, self.seed),
        )
        self.index = ZoneIndex.build(zones_pdf(self.seed))

    def _pages(self, spark):
        return spark.read.parquet(os.path.join(self.pages_path, "data"))

    def _unit_plan(self, spark, unit: str):
        from gaia_spark.functions.geoparse import geoparse
        from gaia_spark.operators.spatial_join import spatial_join

        pages = self._pages(spark).where(F.col("lang") == unit)
        parsed = geoparse(pages)
        joined = spatial_join(parsed, self.index, "within", point_key="url")
        return pages, parsed, joined.select("url", "lat", "lon", "zone_id")

    def _tables(self, table_cls=None):
        from gaia_spark.sources.icelite import IceTable

        self._n += 1
        d = os.path.join(self.work, f"pass-{self._n}")
        clean_dir(d)
        return d, (table_cls or IceTable)(os.path.join(d, "out")), IceTable(os.path.join(d, "lineage"))

    def run_pass(self, spark, k: int) -> PassResult:
        from gaia_spark.sources.lineage import ResumableJob
        from gaia_spark.synth import LANGS

        d, out, lineage = self._tables()
        starts = []

        def process(spark_, unit):
            starts.append(time.perf_counter())
            return self._unit_plan(spark_, unit)[2]

        job = ResumableJob(spark, f"crawl-{k}", out, lineage)
        t0 = time.perf_counter()
        stats = job.run(list(LANGS), process)
        t1 = time.perf_counter()
        bounds = starts + [t1]
        ops = [(u, b - a) for u, a, b in zip(LANGS, bounds, bounds[1:])]
        outputs = {"output": spark_fingerprint(out.read(spark)), "units": (stats["processed"], 0, ())}
        if self.last is not None:
            clean_dir(self.last[0])
        self.last = (d, out)  # kept for oracle_check
        return PassResult(t1 - t0, ops, outputs)

    def traced_pass(self, spark, tr: Tracer, first: bool) -> tuple[float, dict]:
        from gaia_spark.sources.icelite import IceTable
        from gaia_spark.sources.lineage import ResumableJob
        from gaia_spark.synth import LANGS

        class TimedIceTable(IceTable):
            def append(self, df, meta=None):
                return tr.timed("icelite.append", super().append, df, meta)

        d, out, lineage = self._tables(TimedIceTable)

        def process(spark_, unit):
            pages, parsed, joined = self._unit_plan(spark_, unit)
            tr.timed("scan", materialize, pages)
            tr.timed("geoparse", materialize, parsed)
            tr.timed("spatial_join", materialize, joined)
            return joined

        with tr.span("pass"):
            tr.timed("job.run", ResumableJob(spark, "crawl-t", out, lineage).run, list(LANGS), process)
        tr.timed("icelite.read", materialize, out.read(spark))
        tr.timed("resume", ResumableJob(spark, "crawl-t", out, lineage).run, list(LANGS), process)
        snap = out._current_snapshot()
        m = {
            "scan.self_s": tr.total("scan"),
            "geoparse.self_s": tr.total("geoparse") - tr.total("scan"),
            "spatial_join.self_s": tr.total("spatial_join") - tr.total("geoparse"),
            "icelite.append_s": tr.total("icelite.append") - tr.total("spatial_join"),
            "icelite.bytes_written_mb": sum(os.path.getsize(f) for f in snap["files"]) / 1e6,
            "icelite.files_written": float(len(snap["files"])),
            "lineage.overhead_s": tr.total("job.run") - tr.total("icelite.append")
            - tr.total("geoparse") - tr.total("spatial_join") - tr.total("scan"),
            "lineage.resume_skip_s": tr.total("resume"),
            "icelite.read_s": tr.total("icelite.read"),
        }
        if first:
            m.update(self._join_counts(spark, out))
        clean_dir(d)
        return tr.total("pass"), m

    def _join_counts(self, spark, out) -> dict:
        """Filter/refine counts of the point join over the whole pages table."""
        from gaia_spark.functions.geoparse import geoparse
        from gaia_spark.operators.spatial_join import with_cell

        pages = self._pages(spark)
        pts = geoparse(pages).where(F.col("lat").isNotNull())
        n_pts = pts.count()
        cover = self.index.cover_df(spark)
        cells = with_cell(pts, self.index.res, out="_cell")
        candidates = cells.join(F.broadcast(cover), cells["_cell"] == cover["cell"]).count()
        rows_out = out.read(spark).count()
        return {
            "geoparse.hit_ratio": n_pts / pages.count(),
            "spatial_join.candidates": float(candidates),
            "spatial_join.match_ratio": rows_out / max(candidates, 1),
        }

    def oracle_check(self, spark) -> list[str]:
        """The last pass's committed table against a driver-side numpy
        oracle: the frozen geoparse grammar in Python ``re``, then the strict
        rect test or the PreparedPolygon interior test per zone."""
        import pyarrow.parquet as pq

        from gaia_spark.functions.geoparse import GEOPARSE_PATTERN_V1
        from gaia_spark.functions.kernel import PreparedPolygon

        got = self.last[1].read(spark).select("url", "zone_id").toPandas()

        tbl = pq.read_table(os.path.join(self.pages_path, "data"), columns=["url", "text"])
        pat = re.compile(GEOPARSE_PATTERN_V1)
        urls, lats, lons = [], [], []
        for url, text in zip(tbl.column("url").to_pylist(), tbl.column("text").to_pylist()):
            m = pat.search(text)
            if m:
                urls.append(url)
                lats.append(float(m.group(2)))
                lons.append(float(m.group(3)))
        urls, lats, lons = np.array(urls, dtype=object), np.array(lats), np.array(lons)
        want = []
        for z in self.index.zones_pdf.itertuples(index=False):
            if z.kind == "rect":
                hit = (lats > z.min_lat) & (lats < z.max_lat) & (lons > z.min_lon) & (lons < z.max_lon)
            else:
                prep = PreparedPolygon(
                    np.array([v["lat"] for v in z.vertices]), np.array([v["lon"] for v in z.vertices])
                )
                box = (lats >= z.min_lat) & (lats <= z.max_lat) & (lons >= z.min_lon) & (lons <= z.max_lon)
                hit = np.zeros(len(lats), dtype=bool)
                hit[box] = prep.contains(lats[box], lons[box]) & ~prep.on_boundary(lats[box], lons[box])
            want += [(u, int(z.zone_id)) for u in urls[hit]]
        have = sorted(zip(got["url"], got["zone_id"].astype(int)))
        if have != sorted(want):
            return [f"crawl_ingest: {len(have)} joined rows, numpy oracle has {len(want)}"]
        return []


# ---------------------------------------------------------------------------
# points_analytics
# ---------------------------------------------------------------------------

KDE_BANDWIDTH_M = 25_000.0


class PointsAnalytics:
    """Analytics over a pre-joined points IceTable and seeded 512-gon parcels."""

    name = "points_analytics"
    warmup_passes = 1

    def __init__(self, seed: int, size: Size, run_dir: str, size_name: str):
        self.seed, self.size = seed, size
        self.dir = entry_dir(self.name, seed, size_name)

    def prepare(self, spark) -> None:
        import pyarrow.parquet as pq

        from gaia_spark.operators.spatial_join import ZoneIndex
        from gaia_spark.sources.icelite import IceTable

        self.index = ZoneIndex.build(zones_pdf(self.seed))
        points_dir = cached(os.path.join(self.dir, "points"), lambda p: self._build_points(spark, p))
        self.points = IceTable(os.path.join(points_dir, "table"))

        def write_parcels(p):
            t = parcels_table(self.size.parcels, self.size.parcel_vertices, self.seed)
            step = -(-t.num_rows // 8)  # 8 files: one scan partition per file
            os.makedirs(os.path.join(p, "data"))
            for i in range(8):
                pq.write_table(t.slice(i * step, step), os.path.join(p, "data", f"part-{i}.parquet"))

        self.parcels_path = os.path.join(cached(os.path.join(self.dir, "parcels"), write_parcels), "data")
        self.sites = sites_pdf(self.size.sites, self.seed)
        self.input_rows = sum(
            pq.ParquetFile(f).metadata.num_rows for f in self.points._current_snapshot()["files"]
        ) + self.size.parcels

    def _build_points(self, spark, path: str) -> None:
        from gaia_spark.functions.geoparse import geoparse
        from gaia_spark.operators.spatial_join import spatial_join
        from gaia_spark.sources.icelite import IceTable
        from gaia_spark.synth import synth_pages

        pages = synth_pages(spark, self.size.points_pages, partitions=8, seed=self.seed)
        joined = spatial_join(geoparse(pages), self.index, "within", point_key="url")
        value = (F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(100_000)) / 100.0).alias("value")
        IceTable(os.path.join(path, "table")).overwrite(
            joined.select("url", "lat", "lon", "zone_id", value).repartition(8)
        )

    def _parcels(self, spark):
        return spark.read.parquet(self.parcels_path)

    def _feature_join(self, spark, refine: str = "sql"):
        from gaia_spark.operators.feature_join import feature_spatial_join

        return feature_spatial_join(
            self._parcels(spark), self.index, "intersects", feature_key="parcel_id", refine=refine
        ).select("parcel_id", "zone_id")

    def _ops(self, spark) -> dict:
        from gaia_spark.operators.interpolate import kde_grid
        from gaia_spark.operators.knn import knn_join_broadcast
        from gaia_spark.operators.raster import point_tile_pyramid
        from gaia_spark.operators.zonal import zonal_stats

        pts = lambda: self.points.read(spark)  # noqa: E731 - each op reads the table anew
        return {
            "zonal": lambda: zonal_stats(pts(), "value"),
            "raster.pyramid": lambda: point_tile_pyramid(pts(), max_zoom=8, min_zoom=4),
            "knn": lambda: knn_join_broadcast(pts(), self.sites, k=1, point_key="url"),
            "interpolate.kde": lambda: kde_grid(pts(), 8, KDE_BANDWIDTH_M),
            "feature_join": lambda: self._feature_join(spark),
        }

    def run_pass(self, spark, k: int) -> PassResult:
        ops, outputs = [], {}
        for name, build in self._ops(spark).items():
            t0 = time.perf_counter()
            outputs[name] = spark_fingerprint(build())  # the op's consumer: every row, every column
            ops.append((name, time.perf_counter() - t0))
        return PassResult(sum(dt for _, dt in ops), ops, outputs)

    def traced_pass(self, spark, tr: Tracer, first: bool) -> tuple[float, dict]:
        ops = self._ops(spark)
        with tr.span("pass"):
            for name, build in ops.items():
                base = self._parcels(spark) if name == "feature_join" else self.points.read(spark)
                read = "parcels.read" if name == "feature_join" else "icelite.read"
                tr.timed(read, materialize, base)
                tr.timed(name, materialize, build())
        n_reads = len(ops) - 1
        m = {
            "icelite.read_s": tr.total("icelite.read") / n_reads,
            "zonal.self_s": tr.total("zonal") - tr.total("icelite.read") / n_reads,
            "raster.pyramid_s": tr.total("raster.pyramid") - tr.total("icelite.read") / n_reads,
            "knn.self_s": tr.total("knn") - tr.total("icelite.read") / n_reads,
            "interpolate.kde_s": tr.total("interpolate.kde") - tr.total("icelite.read") / n_reads,
            "feature_join.self_s": tr.total("feature_join") - tr.total("parcels.read"),
        }
        if first:
            m.update(self._counts(spark, ops))
        return tr.total("pass"), m

    def _counts(self, spark, ops) -> dict:
        """Parcel-zone pairs passing the bbox filter vs the refined matches."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(self.parcels_path)
        v = pc.list_flatten(t.column("vertices")).combine_chunks()
        n = self.size.parcel_vertices + 1
        lat = v.field("lat").to_numpy().reshape(-1, n)
        lon = v.field("lon").to_numpy().reshape(-1, n)
        z = self.index.zones_pdf
        overlap = (
            (lat.min(1)[:, None] <= z["max_lat"].to_numpy()) & (lat.max(1)[:, None] >= z["min_lat"].to_numpy())
            & (lon.min(1)[:, None] <= z["max_lon"].to_numpy()) & (lon.max(1)[:, None] >= z["min_lon"].to_numpy())
        )
        candidates = int(overlap.sum())
        return {
            "raster.tiles_out": float(ops["raster.pyramid"]().count()),
            "feature_join.candidates": float(candidates),
            "feature_join.match_ratio": ops["feature_join"]().count() / max(candidates, 1),
        }

    def oracle_check(self, spark) -> list[str]:
        """The parcel join must agree with itself under both refine backends."""
        sql = spark_fingerprint(self._feature_join(spark, "sql"))
        arrow = spark_fingerprint(self._feature_join(spark, "arrow"))
        if sql != arrow:
            return [f"points_analytics: feature join refine=sql {sql} != refine=arrow {arrow}"]
        return []


# ---------------------------------------------------------------------------
# interactive_ops
# ---------------------------------------------------------------------------

# the twelve queries and the one table each reads
QUERIES = {
    "q_within_join": "customer", "q_zonal_stats": "customer", "q_knn3": "customer",
    "q_near_500km": "customer", "q_tile_pyramid": "customer", "q_geoparse": "documents",
    "q_poly_intersects_join": "part", "q_kde_grid": "customer", "q_disjoint_count": "customer",
    "q_touches": "supplier", "q_cell_multires": "customer", "q_feature_knn3": "part",
}


class InteractiveOps:
    """Twelve oracle-backed registry queries, one at a time, in a seeded
    order per pass: plan build (driver Python) + collect (JVM execution)."""

    name = "interactive_ops"
    # as on crawl_ingest, the first pass after the cold one runs about 12 % slower
    warmup_passes = 2
    # the tables are the same for every seed, so the outputs are too
    reference = os.path.join(os.path.dirname(os.path.abspath(__file__)), "refs", "interactive_ops.json")

    def __init__(self, seed: int, size: Size, run_dir: str, size_name: str):
        self.seed, self.size = seed, size
        self.dir = entry_dir(self.name, seed, size_name)
        self.sf_dir = SF_DIR
        self.last: dict[str, tuple] = {}  # query -> (rows, schema) of its last run

    def prepare(self, spark) -> None:
        import pyarrow.parquet as pq

        from gaia_spark.operators.spatial_join import ZoneIndex
        from gaia_spark.queries import REGISTRY, oracle_zones_pdf

        self.zones = ZoneIndex.build(oracle_zones_pdf())  # the registry's zone layer
        self.registry = REGISTRY
        self.input_rows = sum(
            pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet")).metadata.num_rows
            for t in QUERIES.values()
        )

    def _order(self, k: int) -> list[str]:
        return list(np.random.default_rng([self.seed, k + 1000]).permutation(list(QUERIES)))

    def _query(self, spark, q: str, tr: Tracer | None = None):
        t0 = time.perf_counter()
        df = self.registry[q].spark(spark, self.sf_dir)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        if tr is not None:
            tr.record("queries.plan", t0, t1)
            tr.record("queries.exec", t1, t2)
        self.last[q] = (rows, df.schema)
        return rows, t1 - t0, t2 - t1

    def run_pass(self, spark, k: int) -> PassResult:
        ops, outputs = [], {}
        for q in self._order(k):
            rows, plan, exe = self._query(spark, q)
            ops.append((q, plan + exe))
            outputs[q] = rows_fingerprint(rows)
        return PassResult(sum(dt for _, dt in ops), ops, outputs)

    def traced_pass(self, spark, tr: Tracer, first: bool) -> tuple[float, dict]:
        with tr.span("pass"):
            for q in self._order(-1):
                with tr.span(q):
                    self._query(spark, q, tr)
        self._layer_prefixes(spark, tr)
        plan, exe = tr.total("queries.plan"), tr.total("queries.exec")
        points, parcels = tr.total("points.read"), tr.total("parcels.read")
        m = {
            "queries.plan_ms": 1e3 * plan / len(QUERIES),
            "queries.exec_ms": 1e3 * exe / len(QUERIES),
            "queries.plan_share": plan / (plan + exe),
            "spatial_join.self_s": tr.total("spatial_join") - points,
            "zonal.self_s": tr.total("zonal") - tr.total("spatial_join"),
            "raster.pyramid_s": tr.total("raster.pyramid") - points,
            "knn.self_s": tr.total("knn") - points,
            "interpolate.kde_s": tr.total("interpolate.kde") - points,
            "feature_join.self_s": tr.total("feature_join") - parcels,
        }
        if first:
            m.update(self._counts(spark))
        return tr.total("pass"), m

    def _layer_prefixes(self, spark, tr: Tracer) -> None:
        """Operator layers inside the registry queries, each query's input
        prefix materialised first: the points layer (customer), the point
        join (q_within_join's plan), then the query itself."""
        from gaia_spark.operators.spatial_join import spatial_join
        from gaia_spark.queries import customer_points
        from gaia_spark.queries_features import parcel_features

        tr.timed("points.read", materialize, customer_points(spark, self.sf_dir))
        joined = spatial_join(customer_points(spark, self.sf_dir), self.zones, "intersects", point_key="c_custkey")
        tr.timed("spatial_join", materialize, joined)
        for layer, q in (("zonal", "q_zonal_stats"), ("raster.pyramid", "q_tile_pyramid"),
                         ("knn", "q_knn3"), ("interpolate.kde", "q_kde_grid")):
            tr.timed(layer, materialize, self.registry[q].spark(spark, self.sf_dir))
        tr.timed("parcels.read", materialize, parcel_features(spark, self.sf_dir))
        tr.timed("feature_join", materialize, self.registry["q_poly_intersects_join"].spark(spark, self.sf_dir))

    def _counts(self, spark) -> dict:
        """Filter (candidate) and refine (match) counts of the two joins."""
        from gaia_spark.operators.spatial_join import with_cell
        from gaia_spark.queries import customer_points
        from gaia_spark.queries_features import parcel_features

        cells = with_cell(customer_points(spark, self.sf_dir), self.zones.res, out="_cell")
        cover = self.zones.cover_df(spark)
        pairs = cells.join(F.broadcast(cover), cells["_cell"] == cover["cell"]).count()
        verts = [r.vertices for r in parcel_features(spark, self.sf_dir).collect()]
        box = np.array([[min(v.lat for v in vs), max(v.lat for v in vs),
                         min(v.lon for v in vs), max(v.lon for v in vs)] for vs in verts])
        z = self.zones.zones_pdf
        overlap = (
            (box[:, :1] <= z["max_lat"].to_numpy()) & (box[:, 1:2] >= z["min_lat"].to_numpy())
            & (box[:, 2:3] <= z["max_lon"].to_numpy()) & (box[:, 3:] >= z["min_lon"].to_numpy())
        )
        candidates = int(overlap.sum())
        return {
            "spatial_join.candidates": float(pairs),
            "spatial_join.match_ratio": len(self.last["q_within_join"][0]) / max(pairs, 1),
            "raster.tiles_out": float(len(self.last["q_tile_pyramid"][0])),
            "feature_join.candidates": float(candidates),
            "feature_join.match_ratio": len(self.last["q_poly_intersects_join"][0]) / max(candidates, 1),
        }

    def oracle_check(self, spark) -> list[str]:
        """Each query's last result against its DuckDB oracle, compared as
        the repo's oracle test compares them (tests/oracle_harness)."""
        from tests.oracle_harness import compare, duck_run

        bad = []
        for q in QUERIES:
            rows, schema = self.last[q]
            try:
                compare(spark.createDataFrame(rows, schema), duck_run(self.registry[q].oracle, self.sf_dir))
            except AssertionError as e:
                bad.append(f"interactive_ops: {q} differs from its DuckDB oracle: {str(e)[:500]}")
        return bad


WORKLOADS = {w.name: w for w in (CrawlIngest, PointsAnalytics, InteractiveOps)}
