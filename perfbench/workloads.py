"""The three workloads. Each builds its inputs, runs one timed pass, runs one
traced pass (each layer called on the previous layer's materialized output)
and checks a pass's output against ``oracles``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession

from imagery_utils_spark.core import geom as G
from imagery_utils_spark.core.region import Region
from imagery_utils_spark.operators import cutline as CUT
from imagery_utils_spark.operators.lineage import LineageStore
from imagery_utils_spark.plans import mosaic_query as MQ
from imagery_utils_spark.sources import pages as P

from . import inputs
from . import oracles as O
from . import pipeline as PL


@dataclass
class Context:
    spark: SparkSession
    cores: int
    seed: int
    n_pages: int
    workdir: str


def materialize(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def cached(df: DataFrame) -> DataFrame:
    """Persist and fill ``df``. A later plan that contains ``df``'s plan reads
    the cached rows in place of recomputing them, so an engine call made on
    the same input as an earlier layer's call runs only its own work."""
    df = df.persist()
    df.count()
    return df


def free_blocks(spark: SparkSession) -> None:
    """Drop every cached, persisted or checkpointed dataset left by a pass."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


class Workload:
    """A workload provides ``build_inputs()`` (input generation and
    materialization), ``prepare_checks()``, ``run_pass(k)``
    (the timed pass), ``traced_pass(tracer, k, pass_label)`` and
    ``check(result)``, which raises on a wrong output."""

    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.info: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.ctx.workdir, name)

    def clean(self, k: int) -> None:
        free_blocks(self.spark)
        for name in os.listdir(self.ctx.workdir):
            if name.endswith(f"_pass{k}"):
                shutil.rmtree(self.path(name))

    def microbench(self, tracer, pass_label: str) -> None:
        """In-process kernel timings; only the mosaic workload has any."""


class PagesWorkload(Workload):
    """Shared input of ``query_index`` and ``catalog_build``: the pages table."""

    def build_inputs(self):
        self.pages_path = self.path("pages")
        inputs.write_pages(self.spark, self.ctx.seed, self.ctx.n_pages,
                           2 * self.ctx.cores, self.pages_path)
        files, size = inputs.dir_bytes(self.pages_path)
        self.info.update(pages=self.ctx.n_pages, input_bytes=size, input_files=files)

    def read_pages(self) -> DataFrame:
        return self.spark.read.parquet(self.pages_path)

    def traced_geocode(self, tracer, pass_label: str) -> tuple[DataFrame, DataFrame]:
        """The scanned and the geocoded pages, both cached."""
        with tracer.span("sources.pages.scan", pass_label) as label:
            scanned = cached(self.read_pages())
        tracer.count(label, rows_out=scanned.count())
        with tracer.span("sources.pages.geocode", pass_label) as label:
            geo = cached(P.geocode(scanned))
        tracer.count(label, rows_out=geo.count())
        return scanned, geo


class QueryIndex(PagesWorkload):
    name = "query_index"

    def prepare_checks(self):
        self.expected = O.query_index_expected(self.pages_path)

    def run_pass(self, k):
        obs = Observation(f"query_index_{k}")
        ranked = MQ.ranked_from_pages(self.read_pages())
        ranked.observe(obs, *PL.checksum_aggs()).write.format("noop").mode("overwrite").save()
        return obs.get

    def traced_pass(self, tracer, k, pass_label):
        scanned, _geo = self.traced_geocode(tracer, pass_label)
        # each call starts from the scanned pages and reads the previous
        # layer's cached output: scoring skips the geocode, ranking the score
        with tracer.span("plans.mosaic_query.score", pass_label) as label:
            scored = cached(MQ.scored_pages(scanned))
        tracer.count(label, rows_out=scored.count())
        with tracer.span("plans.mosaic_query.rank", pass_label) as label:
            ranked = materialize(MQ.ranked_from_pages(scanned))
        row = ranked.agg(*PL.checksum_aggs()).first()
        tracer.count(label, rows_out=row["n"])
        return row.asDict()

    def check(self, result):
        got = (result["n"], result["crc_sum"], result["crc_xor"])
        if got != self.expected:
            raise O.CheckFailed(f"ranked rows differ: {got} != {self.expected}")


class CatalogBuild(PagesWorkload):
    name = "catalog_build"

    def prepare_checks(self):
        self.expected = O.catalog_expected(self.pages_path)
        self.info.update(scenes=len(self.expected[0]))

    def run_pass(self, k):
        out = self.path(f"catalog_pass{k}")
        geo = P.geocode(self.read_pages())
        PL.write_catalog(PL.catalog(geo), out, self.ctx.cores)
        return out

    def traced_pass(self, tracer, k, pass_label):
        _scanned, geo = self.traced_geocode(tracer, pass_label)
        with tracer.span("operators.footprint", pass_label) as label:
            cat = materialize(PL.catalog(geo))
        n_scenes = cat.count()
        tracer.count(label, rows_out=n_scenes)
        out = self.path(f"catalog_pass{k}")
        with tracer.span("sources.sinks", pass_label) as label:
            PL.write_catalog(cat, out, self.ctx.cores)
        files, size = inputs.dir_bytes(out)
        tracer.count(label, rows_out=n_scenes, bytes_written=size, files_written=files)
        return out

    def check(self, out):
        O.check_catalog(out, self.expected)


class MosaicBuild(Workload):
    name = "mosaic_build"

    def build_inputs(self):
        self.catalog_path = self.path("catalog")
        pages = inputs.pages(self.spark, self.ctx.seed, self.ctx.n_pages, 2 * self.ctx.cores)
        PL.write_catalog(PL.catalog(P.geocode(pages)), self.catalog_path, self.ctx.cores)
        inputs.drop_checksums(self.catalog_path)
        files, size = inputs.dir_bytes(self.catalog_path)
        self.info.update(pages=self.ctx.n_pages, input_bytes=size, input_files=files)

    def prepare_checks(self):
        self.scenes = O.read_scenes(self.catalog_path)
        cand = O.tile_candidates(self.scenes)
        self.order = O.cutline_expected(cand)
        self.painted = O.paint_expected(self.scenes, self.order)
        hot = max(cand, key=lambda t: len(cand[t]))
        self.info.update(scenes=len(self.scenes),
                         scene_tile_pairs=sum(len(c) for c in cand.values()),
                         tiles=len(cand), hot_tile=hot, hot_tile_candidates=len(cand[hot]))
        self._capture_kernel_inputs(cand[hot], hot)

    def _capture_kernel_inputs(self, hot_cand, hot):
        """Inputs of the in-process kernel timings, in the engine's form."""
        rows = [(sid, score, Region.from_rect(*rect)) for sid, score, rect in hot_cand]
        rows.sort(key=lambda t: (t[1], t[0]))
        self.hot_rows = rows
        self.hot_region = Region.from_rect(*O.tile_rects()[hot])
        self.pip_pairs = []
        for tile, sids in self.order.items():
            lon, lat = O.pixel_centres(tile)
            for sid in sids:
                coords, offsets = G.parse_wkt_polygon(self.scenes[sid]["geom_wkt"])
                x0, y0, x1, y1 = G.envelope(coords)
                sel = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
                if sel.any():
                    self.pip_pairs.append((lon[sel], lat[sel], coords, offsets))

    def read_scenes(self) -> DataFrame:
        return self.spark.read.parquet(self.catalog_path)

    def run_pass(self, k):
        scenes = self.read_scenes()
        contribs = materialize(PL.contributors(self.spark, scenes))
        manifest = [r.asDict() for r in CUT.intersect_manifest(contribs).collect()]
        hits = PL.footprint_hits(self.spark, scenes, contribs)
        rasters = PL.write_tiles(PL.composite(hits, contribs), self.path(f"tiles_pass{k}"))
        store = LineageStore(self.spark, self.path(f"lineage_pass{k}"))
        PL.commit_tiles(store, rasters, f"pass{k}")
        return manifest, [r.asDict() for r in rasters], store.path

    def traced_pass(self, tracer, k, pass_label):
        scenes = self.read_scenes()
        with tracer.span("operators.cutline", pass_label) as label:
            cand = materialize(PL.candidates(self.spark, scenes))
            contribs = materialize(CUT.cutline_contributors(cand, PL.CUTLINE_THRESHOLD))
            manifest = [r.asDict() for r in CUT.intersect_manifest(contribs).collect()]
        sizes = [r["count"] for r in cand.groupBy("tile_name").count().collect()]
        n_contribs = contribs.count()
        tracer.count(label, rows_out=n_contribs, candidates=sum(sizes), max_group=max(sizes),
                     accept_ratio=n_contribs / sum(sizes))
        with tracer.span("operators.spatial_join", pass_label) as label:
            hits = materialize(PL.footprint_hits(self.spark, scenes, contribs))
        tracer.count(label, rows_out=hits.count())
        with tracer.span("operators.compose", pass_label) as label:
            pixels = materialize(PL.composite(hits, contribs))
        n_pixels = pixels.count()
        tracer.count(label, rows_out=n_pixels, pixels=n_pixels)
        out = self.path(f"tiles_pass{k}")
        with tracer.span("sources.sinks", pass_label) as label:
            rasters = PL.write_tiles(pixels, out)
        files, size = inputs.dir_bytes(out)
        tracer.count(label, rows_out=len(rasters), bytes_written=size, files_written=files)
        store = LineageStore(self.spark, self.path(f"lineage_pass{k}"))
        with tracer.span("operators.lineage", pass_label) as label:
            units = PL.commit_tiles(store, rasters, f"pass{k}")
        tracer.count(label, rows_out=units, units=units)
        return manifest, [r.asDict() for r in rasters], store.path

    def microbench(self, tracer, pass_label, repeats: int = 3):
        with tracer.span("core.region", pass_label) as label:
            walls = []
            for _ in range(repeats):
                t0 = time.perf_counter()
                CUT.determine_contributors(self.hot_rows, self.hot_region, PL.CUTLINE_THRESHOLD)
                walls.append(time.perf_counter() - t0)
        tracer.count(label, hot_tile_s=statistics.median(walls))
        tests = sum(len(px) for px, _py, _c, _o in self.pip_pairs)
        with tracer.span("core.geom", pass_label) as label:
            walls = []
            for _ in range(repeats):
                t0 = time.perf_counter()
                for px, py, coords, offsets in self.pip_pairs:
                    G.points_in_polygon(px, py, coords, offsets)
                walls.append(time.perf_counter() - t0)
        tracer.count(label, pip_mpts_s=statistics.median(walls) / max(tests, 1) * 1e6)

    def check(self, result):
        O.check_mosaic(result, self.order, self.painted)


WORKLOADS = {w.name: w for w in (QueryIndex, CatalogBuild, MosaicBuild)}
