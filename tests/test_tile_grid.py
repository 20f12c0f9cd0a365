"""Tile grid naming/clamping parity (/root/reference/pgc_mosaic.py:455-485,
tests/test_mosaic.py:36-42)."""

import os

from imagery_utils_spark.operators import tile_grid
from pyspark.sql import functions as F


def test_2x2_grid_names():
    tiles = tile_grid.compute_tile_grid(0, 200, 0, 200, 100, 100, "testmosaic1", ".tif")
    names = sorted(t["name"] for t in tiles)
    # golden of /root/reference/tests/test_mosaic.py:36-42
    assert names == [
        "testmosaic1_1_1.tif",
        "testmosaic1_1_2.tif",
        "testmosaic1_2_1.tif",
        "testmosaic1_2_2.tif",
    ]


def test_edge_clamp_and_padding():
    # 10.5 tiles wide -> 11 columns, pad width 2; last column clamps to xmax
    tiles = tile_grid.compute_tile_grid(0, 1050, 0, 100, 100, 100, "m")
    assert len(tiles) == 11
    by_col = {t["col"]: t for t in tiles}
    assert by_col[11]["xmax"] == 1050 and by_col[11]["xmin"] == 1000
    assert by_col[11]["name"] == "m_1_11"
    assert by_col[2]["name"] == "m_1_02"  # zero-padded col, unpadded single-digit row


def test_row_col_orientation():
    # name is {mosaic}_{row}_{col}: row tracks y, col tracks x
    tiles = tile_grid.compute_tile_grid(0, 200, 0, 300, 100, 100, "m")
    t = next(x for x in tiles if x["xmin"] == 100 and x["ymin"] == 200)
    assert t["name"] == "m_3_2" and t["row"] == 3 and t["col"] == 2


def test_tile_csv_roundtrip(spark, tmp_path):
    p = str(tmp_path / "tiles.csv")
    with open(p, "w") as f:
        f.write("row,col,name,status,xmin,xmax,ymin,ymax,epsg\n")
        f.write("17,21,17_21,1,-1000000,-900000,-1400000,-1300000,3031\n")
        f.write("17,22,17_22,0,-900000,-800000,-1400000,-1300000,3031\n")
        f.write("bogus,line\n")
    df = tile_grid.read_tile_csv(spark, p)
    rows = {r.name: r for r in df.collect()}
    assert set(rows) == {"17_21", "17_22"}
    assert rows["17_21"].epsg == 3031 and rows["17_21"].xmin == -1000000.0
    # status gate + sorted order
    buildable = tile_grid.buildable_tiles(df).collect()
    assert [r.name for r in buildable] == ["17_21"]


def test_tile_assign_cols_matches_grid(spark):
    grid = tile_grid.compute_tile_grid(-180, 180, -90, 90, 10.0, 10.0, "w")
    pts = spark.createDataFrame(
        [(-180.0, -90.0), (179.9999, 89.9999), (0.0, 0.0), (-0.0001, -0.0001),
         (5.0, 85.0), (180.0, 90.0)],
        "lon double, lat double",
    )
    out = pts.select(
        "lon", "lat",
        *tile_grid.tile_assign_cols(F.col("lon"), F.col("lat"),
                                    -180, -90, 180, 90, 10.0, 10.0, "w"),
    ).collect()
    by_pt = {(r.lon, r.lat): r for r in out}
    assert by_pt[(-180.0, -90.0)].tile_name == "w_01_01"
    assert by_pt[(179.9999, 89.9999)].tile_name == "w_18_36"
    assert by_pt[(180.0, 90.0)].tile_name == "w_18_36"  # clamped to last tile
    assert by_pt[(0.0, 0.0)].tile_name == "w_10_19"
    assert by_pt[(-0.0001, -0.0001)].tile_name == "w_09_18"
    # every assignment lands inside a real grid tile's half-open extent
    names = {t["name"] for t in grid}
    for r in out:
        assert r.tile_name in names


def test_tile_grid_df_is_a_local_relation(spark):
    args = (-180.0, 180.0, -90.0, 90.0, 10.0, 10.0)
    df = tile_grid.tile_grid_df(spark, *args, mosaicname="world")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # no Python RDD behind the rows, so a join can broadcast the grid
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan
    assert df.schema.simpleString() == (
        "struct<row:int,col:int,name:string,status:string,"
        "xmin:double,xmax:double,ymin:double,ymax:double,epsg:int>")
    assert [r.asDict() for r in df.collect()] == tile_grid.compute_tile_grid(
        *args, mosaicname="world")
