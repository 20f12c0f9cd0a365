"""Sinks (K1-K5) — the reference's shapefile/text/GeoTIFF outputs become
partitioned columnar tables + manifest tables.

* K1/K2 (shapefile sinks, /root/reference/pgc_mosaic.py:607-795): typed
  geometry tables written as parquet with WKT geometry columns — attribute
  fields are just columns.
* K3 (text manifests, /root/reference/pgc_mosaic.py:546-551): the per-tile
  contributor list as a table partitioned by tile; a text rendering is
  provided for drop-in compatibility.
* K4 (per-tile raster sink): two forms — ``partitionBy(tile)`` columnar
  writes (the query-able analog), and since r3 :func:`write_raster_tiles`,
  which encodes REAL per-tile raster images: GeoTIFF or COG through
  ``sources.geotiff`` (the reference's one-GeoTIFF-per-tile output,
  pgc_mosaic_build_tile.py), or an uncompressed 24-bit BMP preview
  through ``sources.bmp`` plus an ESRI world file per tile for
  georeferencing.
* K5 (XML provenance): one lineage/metrics row per output
  (operators.lineage covers the ledger; ``write_run_metadata`` emits the
  per-output record).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_geo_table(df: DataFrame, path: str, geom_col: str = "geom_wkt",
                    mode: str = "overwrite") -> None:
    """K1/K2 — geometry table sink (WKT column + typed attribute columns)."""
    if geom_col not in df.columns:
        raise ValueError(f"missing geometry column {geom_col}")
    df.write.mode(mode).parquet(path)


def write_tile_partitioned(df: DataFrame, path: str, tile_col: str = "tile_name",
                           mode: str = "overwrite") -> None:
    """K4 — one directory per tile (partition pruning on read; the writer
    shuffles by tile first so each tile directory is written by one task,
    avoiding many tiny files per partition)."""
    df.repartition(F.col(tile_col)).write.mode(mode).partitionBy(tile_col).parquet(path)


RASTER_MANIFEST_SCHEMA = ("tile_name string, path string, width int, "
                          "height int, n_pixels long")


def world_file_text(xmin: float, ymin: float, xmax: float, ymax: float,
                    width: int, height: int) -> str:
    """Six-line ESRI world file: x pixel size, 0, 0, negative y pixel size,
    then the CENTER of the top-left pixel — the standard georeferencing
    sidecar for non-GeoTIFF rasters."""
    a = (xmax - xmin) / width
    e = -(ymax - ymin) / height
    c = xmin + a / 2.0
    f = ymax + e / 2.0
    return "\n".join(f"{v:.10f}" for v in (a, 0.0, 0.0, e, c, f)) + "\n"


def write_raster_tiles(pixels: DataFrame, out_dir: str, width: int, height: int,
                       fmt: str = "bmp", background: int = 0,
                       epsg: int = 4326) -> DataFrame:
    """K4 real-raster form: one image file per tile, ``fmt`` one of
    ``bmp`` (plus a world file), ``tif`` or ``cog``.

    ``pixels``: one row per painted pixel with columns ``tile_name, xmin,
    ymin, xmax, ymax`` (tile extent, repeated per row), ``px_row, px_col``
    (0-based, row 0 = TOP), ``red, green, blue`` (0-255). Typically the
    output of :func:`~imagery_utils_spark.operators.compose.composite`
    mapped to pixel coordinates.

    Each tile is assembled and encoded by ONE task (groupBy tile →
    applyInPandas — the same distribution shape as the reference's
    per-tile gdal process), written from the executor (local-fs here; an
    HDFS/S3 put on a real cluster), and described by a returned manifest
    row. Returns the manifest DataFrame (materialize it to trigger the
    writes)."""
    import numpy as np
    import pandas as pd

    from .geotiff import encode_cog, encode_geotiff
    from .bmp import encode_bmp

    if fmt not in ("bmp", "tif", "cog"):
        raise ValueError(f"unknown raster format {fmt!r}")
    os.makedirs(out_dir, exist_ok=True)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        # Executor-side: on a non-shared-fs deployment the driver's makedirs
        # above never reaches the task's host — ensure the dir where we write.
        os.makedirs(out_dir, exist_ok=True)
        tile = pdf["tile_name"].iloc[0]
        img = np.full((height, width, 3), background, dtype=np.uint8)
        r = pdf["px_row"].to_numpy(dtype=np.int64)
        c = pdf["px_col"].to_numpy(dtype=np.int64)
        ok = (r >= 0) & (r < height) & (c >= 0) & (c < width)
        img[r[ok], c[ok], 0] = pdf["red"].to_numpy(dtype=np.int64)[ok]
        img[r[ok], c[ok], 1] = pdf["green"].to_numpy(dtype=np.int64)[ok]
        img[r[ok], c[ok], 2] = pdf["blue"].to_numpy(dtype=np.int64)[ok]
        xmin = float(pdf["xmin"].iloc[0])
        ymin = float(pdf["ymin"].iloc[0])
        xmax = float(pdf["xmax"].iloc[0])
        ymax = float(pdf["ymax"].iloc[0])
        path = os.path.join(out_dir, f"{tile}.tif" if fmt == "cog"
                            else f"{tile}.{fmt}")
        with open(path, "wb") as f:
            if fmt == "tif":
                # georeferencing rides INSIDE the container (GeoTIFF tags);
                # epsg MUST match the tile grid's CRS (a projected mosaic
                # passes its 3413/3031/326xx code, never the default)
                f.write(encode_geotiff(img, xmin, ymin, xmax, ymax,
                                       epsg=epsg))
            elif fmt == "cog":
                # the reference's COG-format mosaic path (tiled layout +
                # internal gdaladdo-style 2/4/8/16 pyramid,
                # pgc_mosaic_build_tile.py:205-216)
                f.write(encode_cog(img, xmin, ymin, xmax, ymax, epsg=epsg))
            else:
                f.write(encode_bmp(img))
        if fmt == "bmp":
            with open(path + ".wld", "w") as f:
                f.write(world_file_text(xmin, ymin, xmax, ymax, width, height))
        return pd.DataFrame([(tile, path, width, height, int(ok.sum()))],
                            columns=["tile_name", "path", "width", "height",
                                     "n_pixels"])

    return pixels.groupBy("tile_name").applyInPandas(run, RASTER_MANIFEST_SCHEMA)


def write_intersect_manifests(contributors: DataFrame, path: str,
                              mode: str = "overwrite") -> None:
    """K3 — per-tile contributor manifests: a table (tile_name, scene_id,
    paint_order) partitioned by tile plus a text rendering per tile
    mirroring `{tile}_intersects.txt`."""
    write_tile_partitioned(
        contributors.select("tile_name", "scene_id", "paint_order"), path, mode=mode
    )


def render_manifest_text(contributors: DataFrame) -> DataFrame:
    """(tile_name, manifest_text) — newline-joined scene ids in paint order,
    byte-compatible with the reference's *_intersects.txt body."""
    return (
        contributors.groupBy("tile_name")
        .agg(
            F.concat_ws(
                "\n",
                F.array_sort(
                    F.collect_list(F.struct("paint_order", "scene_id"))
                ).getField("scene_id"),
            ).alias("manifest_text")
        )
    )


def write_run_metadata(spark, path: str, outputs: list[dict], mode: str = "append") -> None:
    """K5 — one provenance row per produced output (the XML sink's fields as
    columns: output name, source, params, timestamps)."""
    if not outputs:
        return
    df = spark.createDataFrame(outputs)
    df.coalesce(1).write.mode(mode).parquet(path)


def xml_escape_col(c: Column) -> Column:
    """XML escaping (&, <, >, \") as JVM replaces. The quote escape matters
    because render_xml_metadata interpolates these values into double-quoted
    ATTRIBUTES — a quote in a source-derived name must not truncate the
    attribute."""
    return F.replace(
        F.replace(F.replace(F.replace(c, F.lit("&"), F.lit("&amp;")),
                            F.lit("<"), F.lit("&lt;")),
                  F.lit(">"), F.lit("&gt;")),
        F.lit('"'), F.lit("&quot;"))


def render_xml_metadata(df: DataFrame, name_col: str = "outname",
                        source_col: str = "srcfn", stretch_col: str = "stretch",
                        epsg_col: str = "epsg",
                        keep: tuple[str, ...] = ()) -> DataFrame:
    """K5 column form — one XML document string per output row, mirroring the
    reference's per-product metadata writer (ortho tools emit an .xml sidecar
    per output; /root/reference/lib/ortho_functions.py:774-833 builds it from
    the processing parameters). Pure JVM concat so the sink body is
    whole-stage-codegen'd; write with write_tile_partitioned / text sink."""
    return df.select(
        *keep,
        F.col(name_col).alias("outname"),
        F.concat(
            F.lit('<output name="'), xml_escape_col(F.col(name_col)),
            F.lit('"><source>'), xml_escape_col(F.col(source_col)),
            F.lit('</source><params stretch="'), xml_escape_col(F.col(stretch_col)),
            F.lit('" epsg="'), F.col(epsg_col).cast("string"),
            F.lit('"/></output>'),
        ).alias("xml"),
    )


def rect_wkt_col(xmin, ymin, xmax, ymax) -> Column:
    """Closed-ring rectangle WKT as a pure JVM concat — the geometry column
    the K1/K2 shapefile-analog geo tables carry for tile/cutline rects
    (reference writes these via OGR, pgc_mosaic.py:560-596). Double->string
    uses shortest-roundtrip rendering on both engines, so the text is
    deterministic for the dyadic grids the tile math produces."""
    def s(c):
        return c.cast("string")

    return F.concat(
        F.lit("POLYGON (("),
        s(xmin), F.lit(" "), s(ymin), F.lit(", "),
        s(xmax), F.lit(" "), s(ymin), F.lit(", "),
        s(xmax), F.lit(" "), s(ymax), F.lit(", "),
        s(xmin), F.lit(" "), s(ymax), F.lit(", "),
        s(xmin), F.lit(" "), s(ymin), F.lit("))"),
    )
