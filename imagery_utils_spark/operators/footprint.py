"""R1 — raster->vector exact trimmed footprint (``GetExactTrimmedGeom``,
reference ``lib/mosaic.py:911-981``) over a cell-occupancy grid.

Reference semantics, faithfully reproduced over a cell-occupancy grid instead
of raster scanlines:

* scan every ``step``-th row of the group's occupancy grid;
* per scanned row with data: right-edge point ``(last_col + 1, row)`` into the
  top list, left-edge point ``(first_col, row)`` into the bottom list
  (``pixelst``/``pixelsb``, :943-947);
* ring = top list (scan order) + reversed bottom list (:948-949), converted
  from pixel to map coordinates via ``pl2xy`` (C3) incl. the half-cell y
  offset, then closed;
* Douglas-Peucker simplification with ``tolerance`` (OGR ``Simplify``) —
  reimplemented here (pure numpy) since footprints are open staircase rings.

The ring depends only on the first and last occupied column of each grid row,
so the Spark operator never ships points to Python: the JVM tags every point
with its grid cell and reduces the points to one ``(row, first col, last col)``
extent per occupied row, collected into one array per group; a single
``mapInPandas`` pass then builds the ring of every group in a batch.
``trimmed_footprint_from_grid`` feeds the same ring code (``_ring``) from a
NumPy occupancy matrix.

In the webtext graft a "scene" is a page strip and "pixels with data" are the
grid cells the strip's pages occupy — the raster->vector semantics carry over
unchanged (footprint-of-occupancy).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._column_cache import per_jvm
from ..functions.scalar import pl2xy
from .spatial_join import cell_xy


def _dp_simplify(pts: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker on an open polyline (ring passed open; first point
    anchored like OGR's Simplify on the ring boundary)."""
    if len(pts) <= 2 or tol <= 0:
        return pts
    keep = np.zeros(len(pts), dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, len(pts) - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        seg = pts[b] - pts[a]
        L = np.hypot(*seg)
        if L == 0:
            d = np.hypot(*(pts[a + 1:b] - pts[a]).T)
        else:
            d = np.abs(np.cross(seg, pts[a + 1:b] - pts[a])) / L
        i = int(np.argmax(d))
        if d[i] > tol:
            keep[a + 1 + i] = True
            stack.append((a, a + 1 + i))
            stack.append((a + 1 + i, b))
    return pts[keep]


def _ring(lines: np.ndarray, first: np.ndarray, last: np.ndarray, gtf,
          step: int, tolerance: float) -> np.ndarray:
    """Ring vertices (N, 2) from per-row extents: ``lines`` are the ascending
    line indices of the rows with data, ``first``/``last`` their first and
    last occupied column, all in the pixel frame of ``gtf``."""
    if step < 1:
        raise ValueError(f"step must be >= 1, got {step}")
    keep = lines % step == 0
    lines, first, last = lines[keep], first[keep], last[keep]
    if lines.size == 0:
        return np.empty((0, 2))
    p = np.concatenate((last + 1, first[::-1])).astype(np.float64)
    line = np.concatenate((lines, lines[::-1])).astype(np.float64)
    x, y = pl2xy(gtf, p, line)
    return _dp_simplify(np.column_stack((x, y)), tolerance)


def trimmed_footprint_from_grid(occ: np.ndarray, gtf, step: int = 4,
                                tolerance: float = 1.0) -> np.ndarray:
    """occ: 2-D bool occupancy (rows = lines). Returns ring vertices (N,2)."""
    occ = np.asarray(occ, dtype=bool)
    lines = np.flatnonzero(occ.any(axis=1))
    if lines.size == 0:
        return np.empty((0, 2))
    rows = occ[lines]
    first = rows.argmax(axis=1)
    last = occ.shape[1] - 1 - rows[:, ::-1].argmax(axis=1)
    return _ring(lines, first, last, gtf, step, tolerance)


TRIMMED_SCHEMA = "group_id string, footprint_wkt string, n_vertices int"


def trimmed_footprints(
    points: DataFrame,
    group_col: str,
    res: int = 8,
    step: int = 1,
    tolerance: float = 0.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Per-group staircase footprint polygon from occupied grid cells.

    Rows whose ``lon`` or ``lat`` is null or NaN are dropped (a NaN
    would otherwise clip to the cell at -180/-90 and add a vertex there); a
    group with no valid point yields no row. The JVM does all per-point work:
    ``groupBy(group, row) -> min/max col``, then ``groupBy(group)`` collects
    the row extents north to south (at most ``2^res`` per group). One
    ``mapInPandas`` pass builds the rings of a whole batch of groups —
    parallel across groups like the reference's per-image fan-out."""
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    cells, row_keys, row_extent, nonempty, group, rows, out = _extent_cols(
        group_col, res, lon, lat)
    extents = (
        points.select(*cells).groupBy(*row_keys).agg(*row_extent).filter(nonempty)
        .groupBy(group).agg(rows).select(*out)
    )

    def run(batches):
        for pdf in batches:
            wkts, counts = [], []
            for ys, lo, hi in zip(pdf["gy"], pdf["lo"], pdf["hi"]):
                y1, x0 = int(ys[0]), int(lo.min())
                # gdal-style geotransform anchored at the occupancy window's
                # top-left (lines run north->south, so line 0 = max lat edge)
                gtf = (
                    -180.0 + x0 * cw,  # origin x
                    cw,                # pixel width
                    0.0,
                    -90.0 + (y1 + 1) * ch,  # origin y (top edge)
                    0.0,
                    -ch,               # pixel height (negative, north-up)
                )
                # line 0 always has data, so the ring is never empty
                ring = _ring(y1 - ys, lo - x0, hi - x0, gtf, step, tolerance).tolist()
                pts = ", ".join(f"{a:.16f} {b:.16f}" for a, b in ring)
                first = f"{ring[0][0]:.16f} {ring[0][1]:.16f}"
                wkts.append(f"POLYGON (( {pts}, {first} ))")
                counts.append(len(ring))
            yield pd.DataFrame({"group_id": [str(g) for g in pdf["group_id"]],
                                "footprint_wkt": wkts, "n_vertices": counts})

    return extents.mapInPandas(run, schema=TRIMMED_SCHEMA)


@per_jvm
def _extent_cols(group_col: str, res: int, lon: str, lat: str) -> tuple:
    """The columns of ``trimmed_footprints``' per-point reduction to row
    extents, in the order its steps use them."""
    lon_c, lat_c, group = F.col(lon), F.col(lat), F.col(group_col)
    gx, gy = cell_xy(lon_c, lat_c, res)
    valid = lon_c.isNotNull() & lat_c.isNotNull() & ~F.isnan(lon_c) & ~F.isnan(lat_c)
    # an invalid point gets a null column, which min/max skip, and a row with
    # no valid point is dropped after the reduction. A filter on ``valid``
    # would be pushed below the caller's projections and re-evaluate the
    # expressions behind lon/lat once per predicate.
    return (
        (group, gy.cast("int").alias("_gy"), F.when(valid, gx).cast("int").alias("_gx")),
        (group, F.col("_gy")),
        (F.min("_gx").alias("_lo"), F.max("_gx").alias("_hi")),
        F.col("_lo").isNotNull(),
        group,
        F.sort_array(F.collect_list(F.struct("_gy", "_lo", "_hi")), asc=False).alias("_rows"),
        (group.alias("group_id"), F.col("_rows._gy").alias("gy"),
         F.col("_rows._lo").alias("lo"), F.col("_rows._hi").alias("hi")),
    )
