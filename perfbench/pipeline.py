"""The engine calls each workload makes, split at the layer boundaries the
traced run measures. Everything here goes through the package's public
functions; the benchmark only chooses parameters and glues columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imagery_utils_spark.operators import compose as COMP
from imagery_utils_spark.operators import cutline as CUT
from imagery_utils_spark.operators import footprint as FP
from imagery_utils_spark.operators import spatial_join as SJ
from imagery_utils_spark.operators import tile_grid as TG
from imagery_utils_spark.sources import sinks as SINKS

# Strips: each page joins one 1-degree window of one of 4 phase-shifted grids.
STRIP_DEG = 1.0
PHASES = 4
SCORE_SQL = "(doc_id * 13) % 9000"  # integer mean: exact in every engine
FOOTPRINT_RES = 11                  # 2048 x 2048 occupancy grid
TILE_DEG = 10.0
TILE_PX = 100
PX_DEG = TILE_DEG / TILE_PX
JOIN_RES = 8
# deg^2; envelope areas lie on a 1e-8 lattice, so this never ties with one
CUTLINE_THRESHOLD = 0.02000000005


# --------------------------------------------------------------- flagship

def checksum_aggs() -> list:
    """Order-insensitive summary of (doc_id, tile_name, tile_rank) rows."""
    crc = F.crc32(F.concat_ws("|", F.col("doc_id").cast("string"), F.col("tile_name"),
                              F.col("tile_rank").cast("string")))
    return [F.count(F.lit(1)).alias("n"), F.sum(crc).alias("crc_sum"),
            F.bit_xor(crc).alias("crc_xor")]


# ---------------------------------------------------------------- catalog

def with_strips(geocoded: DataFrame) -> DataFrame:
    doc_id = F.col("doc_id")
    off = (doc_id % PHASES).cast("double") * (STRIP_DEG / PHASES)
    wx = F.floor((F.col("lon") - off) / STRIP_DEG)
    wy = F.floor((F.col("lat") - off) / STRIP_DEG)
    sid = F.concat_ws("_", (doc_id % PHASES).cast("string"), wx.cast("string"),
                      wy.cast("string"))
    return geocoded.select("doc_id", "lon", "lat", sid.alias("scene_id"))


def catalog(geocoded: DataFrame) -> DataFrame:
    """One row per strip: envelope, score, page count and trimmed footprint."""
    strips = with_strips(geocoded)
    fp = FP.trimmed_footprints(strips.select("scene_id", "lon", "lat"), "scene_id",
                               res=FOOTPRINT_RES)
    env = strips.groupBy("scene_id").agg(
        F.min("lon").alias("s_xmin"), F.max("lon").alias("s_xmax"),
        F.min("lat").alias("s_ymin"), F.max("lat").alias("s_ymax"),
        F.avg(F.expr(SCORE_SQL)).alias("score"), F.count(F.lit(1)).alias("n_pages"))
    return env.join(fp.select(F.col("group_id").alias("scene_id"),
                              F.col("footprint_wkt").alias("geom_wkt"), "n_vertices"),
                    "scene_id")


def write_catalog(cat: DataFrame, path: str, partitions: int) -> None:
    """Hash-partitioned and sorted, so the written bytes repeat run to run."""
    SINKS.write_geo_table(cat.repartition(partitions, "scene_id").sortWithinPartitions("scene_id"),
                          path, geom_col="geom_wkt")


# ----------------------------------------------------------------- mosaic

def tiles(spark: SparkSession) -> DataFrame:
    return TG.lonlat_tile_grid(spark, tile_deg=TILE_DEG).select(
        F.col("name").alias("tile_name"), "xmin", "xmax", "ymin", "ymax")


def candidates(spark: SparkSession, scenes: DataFrame) -> DataFrame:
    """(tile, scene) pairs whose envelope and tile rectangle overlap."""
    t = tiles(spark)
    hit = ((scenes.s_xmin < t.xmax) & (scenes.s_xmax > t.xmin)
           & (scenes.s_ymin < t.ymax) & (scenes.s_ymax > t.ymin))
    return scenes.join(F.broadcast(t), hit).select(
        "tile_name", "xmin", "xmax", "ymin", "ymax", "scene_id", "score",
        "s_xmin", "s_ymin", "s_xmax", "s_ymax")


def contributors(spark: SparkSession, scenes: DataFrame) -> DataFrame:
    return CUT.cutline_contributors(candidates(spark, scenes), CUTLINE_THRESHOLD)


def pixel_centres(spark: SparkSession, contribs: DataFrame) -> DataFrame:
    """One row per pixel centre of every tile that has contributors."""
    t = tiles(spark).join(contribs.select("tile_name").distinct(), "tile_name").select(
        "tile_name", *[F.col(c).alias("t_" + c) for c in ("xmin", "xmax", "ymin", "ymax")])
    px = spark.range(TILE_PX * TILE_PX).select(
        F.floor(F.col("id") / TILE_PX).cast("int").alias("px_row"),
        (F.col("id") % TILE_PX).cast("int").alias("px_col"))
    return px.crossJoin(F.broadcast(t)).select(
        "tile_name", "t_xmin", "t_xmax", "t_ymin", "t_ymax", "px_row", "px_col",
        (F.col("t_xmin") + (F.col("px_col") + 0.5) * PX_DEG).alias("lon"),
        (F.col("t_ymax") - (F.col("px_row") + 0.5) * PX_DEG).alias("lat"))


def footprint_hits(spark: SparkSession, scenes: DataFrame, contribs: DataFrame) -> DataFrame:
    """(pixel, contributing scene) pairs whose footprint holds the pixel centre."""
    polys = scenes.join(contribs.select("scene_id").distinct(), "scene_id").select(
        "scene_id", "geom_wkt")
    return SJ.points_in_polygons(pixel_centres(spark, contribs), polys, JOIN_RES).drop("geom_wkt")


def composite(hits: DataFrame, contribs: DataFrame) -> DataFrame:
    """Last writer wins per pixel; the winner's paint order becomes its colour."""
    painted = hits.join(contribs.select("tile_name", "scene_id", "paint_order"),
                        ["tile_name", "scene_id"])
    win = COMP.composite(painted, ["tile_name", "px_row", "px_col"], [F.desc("paint_order")])
    po = F.col("paint_order")
    return win.select(
        "tile_name", F.col("t_xmin").alias("xmin"), F.col("t_ymin").alias("ymin"),
        F.col("t_xmax").alias("xmax"), F.col("t_ymax").alias("ymax"), "px_row", "px_col",
        (po % 256).cast("int").alias("red"), F.floor(po / 256).cast("int").alias("green"),
        F.lit(255).alias("blue"))


def write_tiles(pixels: DataFrame, out_dir: str) -> list:
    return SINKS.write_raster_tiles(pixels, out_dir, TILE_PX, TILE_PX, fmt="bmp").collect()


def commit_tiles(store, rasters: list, run_id: str) -> int:
    """One lineage commit per tile. Each gets its own run id: commit files are
    named by millisecond and run id, so two commits of one run id within a
    millisecond would overwrite each other."""
    for r in sorted(rasters, key=lambda r: r["tile_name"]):
        store.commit_units("mosaic_tile", [(r["tile_name"], r["n_pixels"])],
                           run_id=f"{run_id}-{r['tile_name']}")
    return len(rasters)
