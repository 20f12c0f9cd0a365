"""The flagship query — the §3.2 lifecycle of the reference
(``pgc_mosaic_query_index.py``: which scenes/pages contribute to each tile?)
re-expressed as one DataFrame DAG:

  pages -> geocode (column slicing)           # S7 metadata extract
        -> scene-attr derivation (columns)    # F7/F8 record projection
        -> tile assignment (broadcast grid)   # J1 spatial filter join
        -> score (column expr)                # O2 + F4 gates
        -> drop score <= 0                    # pgc_mosaic_query_index.py:380
        -> rank per tile (window)             # O1 sort
        -> per-tile manifests                 # K3 sink analog

Every derived quantity is closed-form arithmetic on ``doc_id`` so the DuckDB
oracle can replay the whole plan in ANSI SQL (see the *_sql helpers).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._column_cache import per_jvm
from ..functions.scoring import ScoreParams, score_col
from ..operators.tile_grid import tile_assign_cols
from ..sources import pages as P

# Default world grid for the webtext graft: 10-degree tiles, 18 rows x 36 cols
GRID = dict(xmin=-180.0, ymin=-90.0, xmax=180.0, ymax=90.0,
            xtilesize=10.0, ytilesize=10.0, mosaicname="world")

SENSORS = ["WV01", "WV02", "WV03", "GE01", "QB02"]


def with_scene_attrs(df: DataFrame) -> DataFrame:
    """Deterministic scene-attribute analog per page: the graft treats each
    geocoded page as a catalog record (FIXTURES.md §2). Distributions chosen
    to exercise every score gate."""
    return df.withColumns(_scene_attr_cols())


@per_jvm
def _scene_attr_cols() -> dict[str, Column]:
    d = F.col("doc_id")
    sensor = F.element_at(F.array(*[F.lit(s) for s in SENSORS]), (d % 5 + 1).cast("int"))
    return {
        "cloudcover": ((d * 7) % 1000) / 1000.0,
        "sun_elev": ((d * 13) % 900) / 10.0,
        "off_nadir": ((d * 17) % 450) / 10.0,
        "sensor": sensor,
        "bands": F.lit(1),
    }


def scene_attrs_sql(d: str = "doc_id") -> dict[str, str]:
    case = ("(CASE ({d} % 5) WHEN 0 THEN 'WV01' WHEN 1 THEN 'WV02' WHEN 2 THEN 'WV03' "
            "WHEN 3 THEN 'GE01' ELSE 'QB02' END)").format(d=d)
    return {
        "cloudcover": f"((({d} * 7) % 1000) / 1000.0)",
        "sun_elev": f"((({d} * 13) % 900) / 10.0)",
        "off_nadir": f"((({d} * 17) % 450) / 10.0)",
        "sensor": case,
    }


def score_gated_sql(params: ScoreParams, attrs: dict[str, str], acq: str) -> str:
    """score with gates as one SQL CASE (matches score_col for rows with all
    attributes present and exposure off)."""
    from ..functions.scoring import score_sql

    cc, sunel = attrs["cloudcover"], attrs["sun_elev"]
    formula = score_sql(params, cc=cc, sunel=sunel, ona=attrs["off_nadir"], acq=acq)
    cc_clamped = f"(CASE WHEN {cc} < 0 OR {cc} > 1 THEN {params.max_cc} ELSE {cc} END)"
    return (
        f"(CASE WHEN {cc_clamped} > {params.max_cc} OR {sunel} < 2 "
        f"THEN -1.0 ELSE {formula} END)"
    )


def geocoded_pages(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    return P.geocode(P.synthesize_pages(spark, sf_dir, replicate=replicate))


def scored_pages(pages: DataFrame, params: ScoreParams | None = None,
                 grid: dict | None = None) -> DataFrame:
    """THE ENGINE PATH over an existing pages table (input_hint schema):
    geocode -> attrs -> tile -> score; no rank/gate yet. At cluster scale
    ``pages`` is the Iceberg table; bench.py reads a materialized parquet."""
    g = dict(GRID, **(grid or {}))
    cols, score = _scored_cols(params or ScoreParams(bands=1), tuple(sorted(g.items())))
    return P.geocode(pages).select(*cols).withColumn("score", score)


@per_jvm
def _scored_cols(params: ScoreParams, grid: tuple) -> tuple[tuple[Column, ...], Column]:
    """The wide projection of ``scored_pages`` (page columns, scene
    attributes, tile assignment) and its score column."""
    g = dict(grid)
    tile = tile_assign_cols(
        F.col("lon"), F.col("lat"), g["xmin"], g["ymin"], g["xmax"], g["ymax"],
        g["xtilesize"], g["ytilesize"], g["mosaicname"],
    )
    cols = (tuple(F.col(c) for c in ("doc_id", "url", "warc_ts", "text", "lang", "lon", "lat"))
            + tuple(c.alias(n) for n, c in _scene_attr_cols().items()) + tile)
    score = score_col(
        params,
        cloudcover=F.col("cloudcover"), sun_elev=F.col("sun_elev"),
        off_nadir=F.col("off_nadir"), sensor=F.col("sensor"),
        bands=F.col("bands"), acq_time=F.col("warc_ts"),
    )
    return cols, score


def scored_assignments(
    spark: SparkSession,
    sf_dir: str,
    params: ScoreParams | None = None,
    replicate: int = 1,
    grid: dict | None = None,
) -> DataFrame:
    """Synthesize pages on the fly, then the engine path (test/battery form)."""
    return scored_pages(P.synthesize_pages(spark, sf_dir, replicate=replicate),
                        params, grid)


def ranked_from_pages(pages: DataFrame, params: ScoreParams | None = None,
                      grid: dict | None = None) -> DataFrame:
    """Gate score > 0 (pgc_mosaic_query_index.py:380) then rank per tile,
    highest score = rank 1; deterministic tiebreak on doc_id."""
    df = scored_pages(pages, params, grid)
    # Narrow projection before the rank shuffle: the ranked output is
    # (doc_id, tile_name, score, rank) — shuffling text/url bytes through
    # the sort would be pure waste. The plain window is the DEFAULT at every
    # measured regime (the narrow single-task sort beats the two-phase
    # staged pass 5x at bench skew — BENCH_r02); operators.rank.skew_rank
    # is the documented contingency for hot groups beyond
    # rank.DEFAULT_SKEW_THRESHOLD_ROWS, gated via operators.rank.rank_auto
    # when the pipeline carries a group-size estimate.
    cols, gate, rank = _rank_cols()
    return df.select(*cols).filter(gate).withColumn("tile_rank", rank)


@per_jvm
def _rank_cols() -> tuple[tuple[Column, ...], Column, Column]:
    w = Window.partitionBy("tile_name").orderBy(F.desc("score"), F.asc("doc_id"))
    return ((F.col("doc_id"), F.col("tile_name"), F.col("score")), F.col("score") > 0,
            F.row_number().over(w))


def ranked_assignments(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    return ranked_from_pages(P.synthesize_pages(spark, sf_dir, replicate=replicate))


def tile_manifest(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    """Per-tile contributor counts — the `_intersects.txt` / A6 analog."""
    df = scored_assignments(spark, sf_dir, replicate=replicate).filter(F.col("score") > 0)
    return (
        df.groupBy("tile_name")
        .agg(
            F.count("*").alias("n_pages"),
            F.countDistinct("lang").alias("n_langs"),
            F.max("score").alias("best_score"),
            F.min("score").alias("worst_score"),
        )
        .orderBy("tile_name")
    )


def tile_density_rasters(spark: SparkSession, sf_dir: str, out_dir: str,
                         width: int = 64, height: int = 64,
                         replicate: int = 1) -> DataFrame:
    """The pgc_mosaic_build_tile analog over the webtext graft: every world
    tile becomes one REAL raster file (BMP + ESRI world file) whose
    pixels encode page density — geocode -> tile assign -> per-pixel count
    -> log-scaled grayscale -> per-tile encode (one task per tile).

    Plan shape: one shuffle (the (tile, pixel) aggregate), then the grouped
    raster encode; the pages table is scanned once and never re-shuffled.
    Returns the manifest DataFrame (materialize to trigger the file
    writes)."""
    from ..sources.sinks import write_raster_tiles

    df = geocoded_pages(spark, sf_dir, replicate=replicate)
    assigned = df.select(
        "doc_id", "lon", "lat",
        *tile_assign_cols(F.col("lon"), F.col("lat"),
                          -180.0, -90.0, 180.0, 90.0, 10.0, 10.0, "world"),
    )
    xmin = F.lit(-180.0) + (F.col("tile_col") - 1) * 10.0
    ymin = F.lit(-90.0) + (F.col("tile_row") - 1) * 10.0
    px_col = F.least(F.lit(width - 1), F.floor((F.col("lon") - xmin) / 10.0 * width)).cast("int")
    px_row = F.least(F.lit(height - 1),
                     F.floor((ymin + 10.0 - F.col("lat")) / 10.0 * height)).cast("int")
    counts = (
        assigned
        .withColumn("xmin", xmin).withColumn("ymin", ymin)
        .withColumn("px_col", px_col).withColumn("px_row", px_row)
        .groupBy("tile_name", "xmin", "ymin", "px_row", "px_col")
        .agg(F.count("*").alias("n"))
    )
    # log-scaled 8-bit grayscale: 1 page is visible, dense pixels saturate
    gray = F.least(F.lit(255), (F.lit(32.0) * F.log1p(F.col("n"))).cast("int"))
    pixels = counts.select(
        "tile_name", "xmin", "ymin",
        (F.col("xmin") + 10.0).alias("xmax"), (F.col("ymin") + 10.0).alias("ymax"),
        "px_row", "px_col",
        gray.alias("red"), gray.alias("green"), gray.alias("blue"),
    )
    return write_raster_tiles(pixels, out_dir, width=width, height=height)
