"""Spatial join: cell-cover equi-join + exact refine (filter-and-refine).

The reference's spatial join is an OGR index scan
(``lyr.SetSpatialFilter(tile_geom)``, /root/reference/pgc_mosaic_query_index.py:261-301)
followed by an exact ``Intersects`` refine (:315-322). Spark has no spatial
index, so both sides are tagged with discrete-global-grid cells and the join
becomes a plain equi-join Catalyst plans as a broadcast-hash join of the
small polygon side, then an exact predicate removes cover false-positives.

Scale design (100 TB / 10^12 pages):
* the point side is tagged with ONE cell per point by pure column arithmetic
  (JVM-side, whole-stage codegen — no UDF, no shuffle);
* the polygon/tile side (small: 10^3..10^6 rows) is exploded into covering
  cells and broadcast — the join adds **zero shuffles** to the fact table;
* refine for rectangles is a column predicate; refine for general polygons is
  a vectorized winding-number pandas UDF over Arrow batches;
* hot cells (Zipf geography) skew the *join output*, not the probe side;
  downstream groupBys rely on map-side partial aggregation + AQE skew
  splitting, and rank uses operators.rank.skew_rank when one group outgrows
  a task (cutline groups are per-tile scene lists, bounded by catalog size,
  so they never need salting — SURVEY.md §7).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .._column_cache import per_jvm
from ..core import geom as G

# ---------------------------------------------------------------- cell tagging


def cell_xy(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    """Grid column and row ``clip(floor(...), 0, 2^res - 1)`` of a point."""
    n = 1 << res
    x = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor((lon + 180.0) / 360.0 * n)))
    y = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor((lat + 90.0) / 180.0 * n)))
    return x, y


def cell_col(lon: Column, lat: Column, res: int) -> Column:
    """Linear cell id ``y * 2^res + x`` — identical to
    core.cells.lonlat_to_linear, but closed-form column arithmetic
    (SQL-expressible, oracle-checkable, codegen-friendly)."""
    x, y = cell_xy(lon, lat, res)
    return (y * (1 << res) + x).cast("long")


def cell_sql(lon: str, lat: str, res: int) -> str:
    """Same id in ANSI SQL (DuckDB oracle parity)."""
    n = 1 << res
    x = f"least({n - 1}, greatest(0, floor(({lon} + 180.0) / 360.0 * {n})))"
    y = f"least({n - 1}, greatest(0, floor(({lat} + 90.0) / 180.0 * {n})))"
    return f"cast(({y}) * {n} + ({x}) as bigint)"


def tag_points(points: DataFrame, res: int, lon="lon", lat="lat",
               out="cell") -> DataFrame:
    return points.withColumn(out, _point_cell(res, lon, lat))


@per_jvm
def _point_cell(res: int, lon: str, lat: str) -> Column:
    return cell_col(F.col(lon), F.col(lat), res)


# ---------------------------------------------------------------- rect cover


def cover_rects(rects: DataFrame, res: int, xmin="xmin", ymin="ymin",
                xmax="xmax", ymax="ymax", out="cell") -> DataFrame:
    """Explode a rectangle table into one row per covering cell — pure
    column sequence/explode, JVM-side.

    Cover contract: MAY over-approximate, NEVER under-approximates — the
    exact-refine stage removes false positives, so the only unsafe failure is
    a dropped cell. The upper edge therefore uses ``floor(f(xmax))`` with no
    epsilon: ``f(lon) = (lon+180)/360*n`` is monotone non-decreasing under
    IEEE rounding, so every point with ``lon < xmax`` tags a cell
    ``floor(f(lon)) <= floor(f(xmax))`` — the cover is a provable superset of
    the point-assignment cells (property-tested in tests/test_spatial_join.py).
    A rect ending *exactly* on a cell boundary over-covers by one empty
    cell row on the small broadcast side (refine drops its pairs) — the safe
    direction, unlike the previous fixed-epsilon subtraction which could
    silently drop a sub-epsilon sliver."""
    cx, cy, cell = _cover_cols(res, xmin, ymin, xmax, ymax)
    return (
        rects.withColumn("_cx", cx).withColumn("_cy", cy).withColumn(out, cell)
        .drop("_cx", "_cy")
    )


@per_jvm
def _cover_cols(res: int, xmin: str, ymin: str, xmax: str,
                ymax: str) -> tuple[Column, Column, Column]:
    """The column and row explodes of ``cover_rects`` and the cell id they
    make."""
    n = 1 << res
    x0 = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor((F.col(xmin) + 180.0) / 360.0 * n)))
    y0 = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor((F.col(ymin) + 90.0) / 180.0 * n)))
    x1 = F.least(F.lit(n - 1), F.greatest(x0, F.floor((F.col(xmax) + 180.0) / 360.0 * n)))
    y1 = F.least(F.lit(n - 1), F.greatest(y0, F.floor((F.col(ymax) + 90.0) / 180.0 * n)))
    return (F.explode(F.sequence(x0, x1)), F.explode(F.sequence(y0, y1)),
            (F.col("_cy") * n + F.col("_cx")).cast("long"))


# ---------------------------------------------------------------- joins


def points_in_rects(points: DataFrame, rects: DataFrame, res: int,
                    lon="lon", lat="lat", refine: bool = True) -> DataFrame:
    """Inner join: every (point, rect) pair whose rect contains the point.

    Containment is closed on the lower/left edge and open on the upper/right
    (a partition for grid tiles — each point lands in exactly one tile).
    """
    pts = tag_points(points, res, lon, lat)
    joined = pts.join(F.broadcast(cover_rects(rects, res)), "cell")
    if refine:
        joined = joined.filter(
            (F.col(lon) >= F.col("xmin")) & (F.col(lon) < F.col("xmax"))
            & (F.col(lat) >= F.col("ymin")) & (F.col(lat) < F.col("ymax"))
        )
    return joined.drop("cell")


def polygons_to_rect_cover(polys: DataFrame, wkt_col: str = "geom_wkt") -> DataFrame:
    """Envelope columns for a polygon table (driver of the cheap prefilter —
    the explicit cheap-before-UDF ordering Catalyst cannot infer for black-box
    UDFs, see SURVEY.md §4). Anti-meridian-crossing polygons
    (lon span > 180) are split into west/east parts first
    (/root/reference/lib/utils.py:561-645 semantics), producing one row per
    part with a ``part_ring_wkt`` whose envelope is valid."""
    schema = "part_ring_wkt string, xmin double, ymin double, xmax double, ymax double"

    def _split(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for wkt in pdf[wkt_col]:
                coords, offsets = G.parse_wkt_polygon(wkt)
                if G.does_cross_180(coords):
                    # single-ring assumption matches getWrappedGeometry
                    parts = G.wrap_geometry_180(coords[offsets[0]:offsets[1]])
                else:
                    parts = [coords]
                out = []
                for ring in parts:
                    x0, y0, x1, y1 = G.envelope(ring)
                    out.append((G.polygon_wkt(ring), x0, y0, x1, y1))
                rows.append(out)
            pdf = pdf.copy()
            pdf["_parts"] = rows
            yield pdf

    import pyspark.sql.types as T

    part_type = T.ArrayType(T.StructType([
        T.StructField("part_ring_wkt", T.StringType()),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]))
    out_schema = T.StructType(list(polys.schema.fields) + [T.StructField("_parts", part_type)])
    exploded = (
        polys.mapInPandas(_split, schema=out_schema)
        .withColumn("_p", F.explode("_parts"))
        .drop("_parts")
        .select("*", "_p.*")
        .drop("_p")
    )
    return exploded


def points_in_polygons(points: DataFrame, polys: DataFrame, res: int,
                       lon="lon", lat="lat", wkt_col="geom_wkt") -> DataFrame:
    """Filter-and-refine point-in-polygon join (J1 + J2).

    1. polygons -> 180-split parts -> envelope rects -> cell cover (broadcast)
    2. equi-join on cell (no shuffle of the point side)
    3. envelope column predicate (cheap, JVM)
    4. exact winding-number PIP in an Arrow-batched pandas UDF (polygon rings
       parsed once per batch, cached by wkt)
    """
    parts = polygons_to_rect_cover(polys, wkt_col)
    cov = F.broadcast(cover_rects(parts, res))
    pts = tag_points(points, res, lon, lat)
    cand = pts.join(cov, "cell").filter(_in_envelope(lon, lat))

    @F.pandas_udf("boolean")
    def pip(plon: pd.Series, plat: pd.Series, wkt: pd.Series) -> pd.Series:
        out = pd.Series(False, index=plon.index)
        cache: dict[str, object] = {}
        for w, idx in wkt.groupby(wkt).groups.items():
            ring = cache.get(w)
            if ring is None:
                ring = G.parse_wkt_polygon(w)
                cache[w] = ring
            coords, offsets = ring
            out.loc[idx] = G.points_in_polygon(
                plon.loc[idx].values, plat.loc[idx].values, coords, offsets
            )
        return out

    refined = cand.filter(pip(F.col(lon), F.col(lat), F.col("part_ring_wkt")))
    # a point can hit several parts only if parts overlap; wrapped parts are
    # disjoint at +/-180, so no dedup is needed
    return refined.drop("cell", "part_ring_wkt", "xmin", "ymin", "xmax", "ymax")


@per_jvm
def _in_envelope(lon: str, lat: str) -> Column:
    """The point lies in the closed envelope of its candidate part."""
    return ((F.col(lon) >= F.col("xmin")) & (F.col(lon) <= F.col("xmax"))
            & (F.col(lat) >= F.col("ymin")) & (F.col(lat) <= F.col("ymax")))
