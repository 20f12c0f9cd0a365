"""Tile grid construction + tile CSV source.

Exact reimplementation of the reference's grid semantics:

* computed grid (/root/reference/pgc_mosaic.py:455-485): columns iterate
  ``drange(xmin, xmax, xtilesize)`` (repeated float addition), rows likewise;
  edge tiles clamp to the mosaic extent; names are
  ``{mosaicname}_{buffernum(row, ytdb)}_{buffernum(col, xtdb)}{suffix}`` with
  pad widths = digit counts of ``ceil(extent/tilesize)``
  (/root/reference/lib/mosaic.py:1021-1025, buffernum);
* CSV tile schema (/root/reference/pgc_mosaic_query_index.py:176-192):
  9 columns ``row,col,name,status,xmin,xmax,ymin,ymax,epsg``, header and
  malformed lines skipped, ``status == "1"`` gates processing, tiles handled
  in *string-sorted* name order (:216-218).

The tile table is tiny relative to the fact table (thousands of rows for a
continental mosaic) — it is generated driver-side with the reference's exact
float accumulation and shipped as a broadcast-able DataFrame; no UDF, no
shuffle.
"""

from __future__ import annotations

import math

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import buffernum, drange

TILE_SCHEMA = pa.schema([
    ("row", pa.int32()), ("col", pa.int32()), ("name", pa.string()), ("status", pa.string()),
    ("xmin", pa.float64()), ("xmax", pa.float64()), ("ymin", pa.float64()),
    ("ymax", pa.float64()), ("epsg", pa.int32()),
])


def compute_tile_grid(
    xmin: float,
    xmax: float,
    ymin: float,
    ymax: float,
    xtilesize: float,
    ytilesize: float,
    mosaicname: str = "mosaic",
    suffix: str = "",
    epsg: int = 4326,
) -> list[dict]:
    """Driver-side exact grid; row-major list of tile dicts."""
    xtiledim = math.ceil((xmax - xmin) / xtilesize)
    ytiledim = math.ceil((ymax - ymin) / ytilesize)
    xtdb = len(str(int(xtiledim)))
    ytdb = len(str(int(ytiledim)))
    tiles = []
    i = 1
    for x in drange(xmin, xmax, xtilesize):  # columns
        x2 = xmax if x + xtilesize > xmax else x + xtilesize
        j = 1
        for y in drange(ymin, ymax, ytilesize):  # rows
            y2 = ymax if y + ytilesize > ymax else y + ytilesize
            name = f"{mosaicname}_{buffernum(j, ytdb)}_{buffernum(i, xtdb)}{suffix}"
            tiles.append(
                dict(row=j, col=i, name=name, status="1",
                     xmin=float(x), xmax=float(x2), ymin=float(y), ymax=float(y2),
                     epsg=epsg)
            )
            j += 1
        i += 1
    if not tiles:
        raise RuntimeError("No tile objects created")
    return tiles


def tile_grid_df(spark: SparkSession, *args, **kwargs) -> DataFrame:
    """The computed grid as a JVM local relation (a ``LocalTableScan``):
    Spark knows its size, so joins broadcast it, and no Python worker
    serves its rows."""
    return spark.createDataFrame(
        pa.Table.from_pylist(compute_tile_grid(*args, **kwargs), schema=TILE_SCHEMA))


def read_tile_csv(spark: SparkSession, path: str) -> DataFrame:
    """9-column tile CSV -> typed DataFrame; header + malformed rows dropped
    (the reference logs-and-skips lines with != 9 fields and the header row
    whose name field is literally 'name')."""
    raw = (
        spark.read.option("header", "false")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    cols = raw.columns
    if len(cols) < 9:
        raise RuntimeError(f"tile csv has {len(cols)} columns, expected 9")
    df = raw.select(
        F.col(cols[0]).cast("int").alias("row"),
        F.col(cols[1]).cast("int").alias("col"),
        F.col(cols[2]).alias("name"),
        F.col(cols[3]).alias("status"),
        F.col(cols[4]).cast("double").alias("xmin"),
        F.col(cols[5]).cast("double").alias("xmax"),
        F.col(cols[6]).cast("double").alias("ymin"),
        F.col(cols[7]).cast("double").alias("ymax"),
        F.col(cols[8]).cast("int").alias("epsg"),
    )
    return df.filter(
        (F.col("name") != "name") & F.col("row").isNotNull() & F.col("xmin").isNotNull()
    )


def buildable_tiles(tiles: DataFrame, target_tiles: list[str] | None = None) -> DataFrame:
    """status == '1' gate + optional target-tile selection, string-sorted by
    name (order parity with the reference's ``keys.sort()``)."""
    out = tiles.filter(F.col("status") == "1")
    if target_tiles:
        out = out.filter(F.col("name").isin(list(target_tiles)))
    return out.orderBy("name")


def lonlat_tile_grid(
    spark: SparkSession,
    lon_min: float = -180.0,
    lon_max: float = 180.0,
    lat_min: float = -90.0,
    lat_max: float = 90.0,
    tile_deg: float = 10.0,
    mosaicname: str = "world",
    epsg: int = 4326,
) -> DataFrame:
    """Convenience: a lon/lat degree grid for the webtext graft (pages are
    geocoded points in EPSG:4326)."""
    return tile_grid_df(
        spark, lon_min, lon_max, lat_min, lat_max, tile_deg, tile_deg,
        mosaicname=mosaicname, epsg=epsg,
    )


def tile_assign_cols(lon, lat, xmin: float, ymin: float, xmax: float, ymax: float,
                     xtilesize: float, ytilesize: float, mosaicname: str = "mosaic",
                     suffix: str = ""):
    """Closed-form tile assignment for points — the pure-column fast path
    (no join) valid for regular grids: col = floor((x - xmin)/xtilesize) + 1,
    clamped into the grid; name via lpad-to-digit-width. SQL-expressible, so
    oracle-checkable. Returns (row, col, name) Columns.
    """
    xtiledim = math.ceil((xmax - xmin) / xtilesize)
    ytiledim = math.ceil((ymax - ymin) / ytilesize)
    xtdb = len(str(int(xtiledim)))
    ytdb = len(str(int(ytiledim)))
    col = F.least(F.lit(xtiledim), F.greatest(F.lit(1),
        (F.floor((lon - F.lit(xmin)) / F.lit(xtilesize)) + 1).cast("int")))
    row = F.least(F.lit(ytiledim), F.greatest(F.lit(1),
        (F.floor((lat - F.lit(ymin)) / F.lit(ytilesize)) + 1).cast("int")))
    name = F.concat(
        F.lit(mosaicname + "_"),
        F.lpad(row.cast("string"), ytdb, "0"),
        F.lit("_"),
        F.lpad(col.cast("string"), xtdb, "0"),
        F.lit(suffix),
    )
    return row.alias("tile_row"), col.alias("tile_col"), name.alias("tile_name")
