"""Geohash + slippy/quadkey keys (operators/geokeys.py) vs an independent
from-spec reference implementation and published test vectors."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from imagery_utils_spark.operators.geokeys import (
    GEOHASH_BASE32, geohash_col, geohash_sql, quadkey_col, quadkey_sql,
    slippy_cols, slippy_sql)


# ---------------------------------------------------------------- reference

def ref_geohash(lat, lon, precision):
    """Independent implementation: classic interval-subdivision loop
    (Niemeyer's algorithm as published), NOT the quantize+interleave
    closed form the engine uses."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits = []
    even = True
    while len(bits) < 5 * precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits.append(1)
                lon_lo = mid
            else:
                bits.append(0)
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits.append(1)
                lat_lo = mid
            else:
                bits.append(0)
                lat_hi = mid
        even = not even
    out = []
    for k in range(precision):
        v = 0
        for b in bits[5 * k:5 * k + 5]:
            v = v * 2 + b
        out.append(GEOHASH_BASE32[v])
    return "".join(out)


def ref_slippy(lat, lon, z):
    """OSM wiki reference formula, independent math.* implementation."""
    lat = max(-85.05112878, min(85.05112878, lat))
    n = 1 << z
    xt = int(math.floor((lon + 180.0) / 360.0 * n))
    lr = math.radians(lat)
    yt = int(math.floor(
        (1.0 - math.log(math.tan(lr) + 1.0 / math.cos(lr)) / math.pi)
        / 2.0 * n))
    return max(0, min(n - 1, xt)), max(0, min(n - 1, yt))


def ref_quadkey(xt, yt, z):
    """Bing Maps Tile System published algorithm (digit loop)."""
    out = []
    for i in range(z, 0, -1):
        digit = 0
        mask = 1 << (i - 1)
        if xt & mask:
            digit += 1
        if yt & mask:
            digit += 2
        out.append(str(digit))
    return "".join(out)


POINTS = [
    (57.64911, 10.40744), (42.605, -5.603), (0.0, 0.0),
    (-33.8688, 151.2093), (89.9, 179.9), (-89.9, -179.9),
    (37.7749, -122.4194), (85.3, 12.0), (-86.0, 0.5), (48.8566, 2.3522),
]


def test_geohash_known_vector(spark):
    # classic published example (python-geohash docs): u4pruydq...
    assert ref_geohash(57.64911, 10.40744, 8) == "u4pruydq"
    df = spark.createDataFrame([(57.64911, 10.40744)], "lat double, lon double")
    got = df.select(geohash_col(F.col("lon"), F.col("lat"), 8).alias("g")).first().g
    assert got == "u4pruydq"


@pytest.mark.parametrize("precision", [5, 8])
def test_geohash_matches_reference(spark, precision):
    df = spark.createDataFrame([(la, lo) for la, lo in POINTS],
                               "lat double, lon double")
    got = [r.g for r in df.select(
        geohash_col(F.col("lon"), F.col("lat"), precision).alias("g")).collect()]
    want = [ref_geohash(la, lo, precision) for la, lo in POINTS]
    assert got == want


def test_geohash_sql_twin_duckdb(spark):
    con = duckdb.connect()
    for la, lo in POINTS:
        sql = geohash_sql(str(lo), str(la), 8)
        (got,) = con.execute(f"SELECT {sql}").fetchone()
        assert got == ref_geohash(la, lo, 8), (la, lo)


def test_quadkey_known_vector(spark):
    # Bing Maps Tile System doc: tile (3, 5) at level 3 -> "213"
    assert ref_quadkey(3, 5, 3) == "213"
    df = spark.createDataFrame([(3, 5)], "xt long, yt long")
    got = df.select(quadkey_col(F.col("xt"), F.col("yt"), 3).alias("q")).first().q
    assert got == "213"
    con = duckdb.connect()
    (g2,) = con.execute("SELECT " + quadkey_sql("3", "5", 3)).fetchone()
    assert g2 == "213"


def test_slippy_matches_reference(spark):
    z = 6
    df = spark.createDataFrame([(la, lo) for la, lo in POINTS],
                               "lat double, lon double")
    xt, yt = slippy_cols(F.col("lon"), F.col("lat"), z)
    rows = df.select(xt.alias("x"), yt.alias("y"),
                     quadkey_col(xt, yt, z).alias("q")).collect()
    for (la, lo), r in zip(POINTS, rows):
        wx, wy = ref_slippy(la, lo, z)
        assert (r.x, r.y) == (wx, wy), (la, lo)
        assert r.q == ref_quadkey(wx, wy, z)


def test_slippy_sql_twin_duckdb():
    z = 6
    con = duckdb.connect()
    for la, lo in POINTS:
        xs, ys = slippy_sql(str(lo), str(la), z)
        qx, qy, qq = con.execute(
            f"SELECT {xs}, {ys}, " + quadkey_sql(f"({xs})", f"({ys})", z)
        ).fetchone()
        wx, wy = ref_slippy(la, lo, z)
        assert (qx, qy) == (wx, wy), (la, lo)
        assert qq == ref_quadkey(wx, wy, z)


def test_geohash_prefix_containment(spark):
    """Spec property: a longer geohash refines (is prefixed by) a shorter
    one of the same point."""
    for la, lo in POINTS:
        g8 = ref_geohash(la, lo, 8)
        g5 = ref_geohash(la, lo, 5)
        assert g8.startswith(g5)
