"""End-to-end mosaic pipeline integration (r3): the full reference analog in
one flow — greedy cutline selection -> per-pixel last-writer-wins composite
in paint order -> real raster tile sink (BMP + world file).

Mirrors pgc_mosaic: determine_contributors picks+orders scenes per tile
(lib/mosaic.py:743-789), build_tile paints them in that order so the last
(highest-score) writer wins per pixel (pgc_mosaic_build_tile.py:139-183),
and one raster file per tile lands on disk."""

import numpy as np
from pyspark.sql import functions as F

from imagery_utils_spark.operators.compose import composite
from imagery_utils_spark.operators.cutline import cutline_contributors
from imagery_utils_spark.sources.bmp import decode_bmp
from imagery_utils_spark.sources.sinks import write_raster_tiles

# one 10x10-deg tile rasterized at 10x10 px (1 deg/px)
TILE = ("t1", 0.0, 0.0, 10.0, 10.0)

# scenes: rects in tile coords with scores and distinct colors.
#   low   (score 1): left half  — covered by high except a left sliver
#   high  (score 9): big center rect
#   tiny  (score 5): fully inside high -> dropped by the cutline pass
SCENES = [
    ("low", 1.0, (0.0, 0.0, 6.0, 10.0), (200, 0, 0)),
    ("high", 9.0, (2.0, 0.0, 10.0, 10.0), (0, 200, 0)),
    ("tiny", 5.0, (3.0, 3.0, 4.0, 4.0), (0, 0, 200)),
]


def test_mosaic_pipeline_end_to_end(spark, tmp_path):
    tname, tx0, ty0, tx1, ty1 = TILE
    cand = spark.createDataFrame(
        [(tname, tx0, tx1, ty0, ty1, sid, sc, r[0], r[1], r[2], r[3])
         for sid, sc, r, _c in SCENES],
        "tile_name string, xmin double, xmax double, ymin double, ymax double, "
        "scene_id string, score double, s_xmin double, s_ymin double, "
        "s_xmax double, s_ymax double")
    contribs = cutline_contributors(cand, contribution_threshold=1.0)
    rows = {r.scene_id: r for r in contribs.collect()}
    # tiny is entirely inside high (processed first, score 9) -> excluded;
    # low survives via its uncovered left sliver; paint order: highest LAST
    assert set(rows) == {"low", "high"}
    assert rows["low"].paint_order < rows["high"].paint_order

    # pixels per scene (1 deg/px, row 0 = top lat band)
    colors = {sid: c for sid, _s, _r, c in SCENES}
    px = []
    for sid, _score, (x0, y0, x1, y1), (cr, cg, cb) in SCENES:
        for pr in range(10):
            for pc in range(10):
                lon, lat = tx0 + pc + 0.5, ty1 - pr - 0.5
                if x0 <= lon <= x1 and y0 <= lat <= y1:
                    px.append((tname, sid, pr, pc, cr, cg, cb))
    pixels = spark.createDataFrame(
        px, "tile_name string, scene_id string, px_row int, px_col int, "
        "red int, green int, blue int")

    # only selected contributors paint, in paint order: LAST writer wins ==
    # highest paint_order (the reference's sequential ascending-score paint)
    painted = pixels.join(contribs.select("tile_name", "scene_id", "paint_order"),
                          ["tile_name", "scene_id"])
    win = composite(painted, ["tile_name", "px_row", "px_col"],
                    [F.desc("paint_order")])
    final = win.withColumn("xmin", F.lit(tx0)).withColumn("ymin", F.lit(ty0)) \
               .withColumn("xmax", F.lit(tx1)).withColumn("ymax", F.lit(ty1))
    manifest = write_raster_tiles(final, str(tmp_path), width=10, height=10).collect()
    assert len(manifest) == 1 and manifest[0].n_pixels == 100  # full coverage

    img = decode_bmp(open(manifest[0].path, "rb").read())
    # center overlap (lon 5.5) -> high wins (painted last) despite low also
    # covering it; left sliver (lon 0.5) -> low; tiny never painted anywhere
    assert tuple(img[5, 5]) == colors["high"]
    assert tuple(img[5, 0]) == colors["low"]
    assert not (img == np.array(colors["tiny"])).all(axis=2).any()


def test_tile_density_rasters_over_pages(spark, tmp_path):
    """pgc_mosaic_build_tile analog over the real geocoded pages table: one
    raster file per populated world tile, pixel counts consistent with the
    tile assignment, world files georeferenced to each tile's extent."""
    from imagery_utils_spark.plans.mosaic_query import (
        geocoded_pages, tile_density_rasters)

    man = {r.tile_name: r for r in tile_density_rasters(
        spark, "/root/testdata/sf0.001", str(tmp_path), width=20, height=20).collect()}
    n_tiles = (geocoded_pages(spark, "/root/testdata/sf0.001")
               .select(F.floor((F.col("lat") + 90) / 10).alias("r"),
                       F.floor((F.col("lon") + 180) / 10).alias("c"))
               .distinct().count())
    assert len(man) == n_tiles  # one raster per populated tile
    # decode the densest tile: nonzero pixels == manifest n_pixels
    best = max(man.values(), key=lambda r: r.n_pixels)
    img = decode_bmp(open(best.path, "rb").read())
    assert img.shape == (20, 20, 3)
    assert int((img[:, :, 0] > 0).sum()) == best.n_pixels
    # world file pixel size = 10 deg / 20 px
    wld = [float(x) for x in open(best.path + ".wld").read().split()]
    assert wld[0] == 0.5 and wld[3] == -0.5


def test_mosaic_composite_to_geotiff(spark, tmp_path):
    """Same composite path as test_mosaic_pipeline_end_to_end but sunk to
    the GeoTIFF container: georeferencing must ride inside the file."""
    from imagery_utils_spark.sources.geotiff import decode_geotiff

    pixels = spark.createDataFrame(
        [("t1", 0.0, 0.0, 10.0, 10.0, r, c, 200, 10, 10)
         for r in range(4) for c in range(4)],
        "tile_name string, xmin double, ymin double, xmax double, ymax double, "
        "px_row int, px_col int, red int, green int, blue int")
    man = write_raster_tiles(pixels, str(tmp_path / "tif"), width=4, height=4,
                             fmt="tif").collect()
    blob = open(man[0].path, "rb").read()
    arr, gtf, epsg = decode_geotiff(blob)
    assert (arr[:, :, 0] == 200).all()
    assert gtf == (0.0, 2.5, 0.0, 10.0, 0.0, -2.5) and epsg == 4326
