"""Independent-implementation oracles for the battery queries whose
semantics are not ANSI-SQL-expressible (VERDICT r2 asks #2/#3).

INDEPENDENCE CONTRACT: this module imports NOTHING from
``imagery_utils_spark``. Every algorithm here is a from-scratch
re-derivation — a different geometry representation (coordinate-compression
cell masks vs the engine's scanline slab algebra), a separately written
simhash (vectorized numpy bit votes vs the engine's per-row UDF) — so a
hash-match against the engine is evidence of correct semantics, not of the
same code evaluated twice.

The expected tables are recomputed AT ORACLE-BUILD TIME from the same
parquet inputs the Spark queries read (never from stale committed literals),
then surfaced to the driver's DuckDB as ``VALUES`` literals: the driver
interface takes one SQL string per query, and loading a derived table into
SQL as a literal is the standard way to oracle-check non-SQL semantics.

Input derivation (pages -> strips aggregation) is shared with the engine AS
SQL TEXT — the same convention every oracle-checked geospatial query in
``__spark_entry__`` already uses: both engines must see bit-identical
inputs; it is the operator under test whose implementation must differ.
"""

from __future__ import annotations

import functools

import numpy as np

# --------------------------------------------------------------- simhash

_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_MASK64 = 0xFFFFFFFFFFFFFFFF


def _fnv1a64(b: bytes) -> int:
    h = _FNV_OFFSET
    for ch in b:
        h = ((h ^ ch) * _FNV_PRIME) & _MASK64
    return h


def _simhash64(text: str) -> int:
    """64-bit simhash over distinct lowercase whitespace tokens; bit j set
    iff more distinct-token hashes carry bit j than not. Independent
    re-derivation of the contract (vectorized differently on purpose)."""
    if not text:
        return 0
    toks = sorted(set(text.lower().split()))
    if not toks:
        return 0
    h = np.array([_fnv1a64(t.encode("utf-8")) for t in toks], dtype=np.uint64)
    bits = (h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
    votes = bits.astype(np.int64).sum(axis=0) * 2 - len(toks)
    fp = 0
    for j in np.nonzero(votes > 0)[0]:
        fp |= 1 << int(j)
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def _popcount64_matrix(x: np.ndarray) -> np.ndarray:
    """Popcount of a uint64 array (numpy<2 has no bitwise_count)."""
    v = x.view(np.uint8).reshape(*x.shape, 8)
    return np.unpackbits(v, axis=-1).sum(axis=-1)


def simhash_expected_pairs(sf_dir: str, max_hamming: int = 3):
    """Brute-force all-pairs (key_a < key_b, hamming <= max_hamming) over the
    documents table — the ground truth the engine's chunk-blocked form must
    equal (any pair within Hamming 3 of a 4x16-bit split shares a chunk)."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        "ORDER BY doc_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    fps = np.array([_simhash64(r[1]) for r in rows], dtype=np.int64).view(np.uint64)
    out = []
    for i in range(len(ids)):
        ham = _popcount64_matrix(fps[i + 1:] ^ fps[i])
        for off in np.nonzero(ham <= max_hamming)[0]:
            j = i + 1 + int(off)
            a, b = int(ids[i]), int(ids[j])
            if a > b:
                a, b = b, a
            out.append((a, b, int(ham[off])))
    out.sort()
    return out


# --------------------------------------------------------------- cutline

def _greedy_cutline_masks(tile_rect, scenes, threshold: float):
    """The reference's two-pass greedy contributor selection
    (/root/reference/lib/mosaic.py:743-789) over an INDEPENDENT geometry
    representation: all rect corners are coordinate-compressed into an
    elementary-cell grid; every region is a boolean cell mask; difference /
    intersection / union are mask ops; area is the cell-area dot product.
    Exact for unions of axis-aligned rectangles (every edge is a grid line).

    ``scenes``: (scene_id, score, (x0, y0, x1, y1)) — any order; sorted here
    ascending by (score, scene_id) then processed highest-score-first, the
    engine's documented deterministic tie-break.
    Returns (scene_id, score) highest score LAST (paint order).
    """
    xs = sorted({tile_rect[0], tile_rect[2]}
                | {r[2][0] for r in scenes} | {r[2][2] for r in scenes})
    ys = sorted({tile_rect[1], tile_rect[3]}
                | {r[2][1] for r in scenes} | {r[2][3] for r in scenes})
    xs_a, ys_a = np.array(xs), np.array(ys)
    areas = np.outer(np.diff(ys_a), np.diff(xs_a))  # (ny-1, nx-1)

    def mask(x0, y0, x1, y1):
        xi = (xs_a[:-1] >= x0) & (xs_a[1:] <= x1)
        yi = (ys_a[:-1] >= y0) & (ys_a[1:] <= y1)
        return yi[:, None] & xi[None, :]

    tile_m = mask(*tile_rect)
    ordered = sorted(scenes, key=lambda t: (t[1], t[0]))[::-1]
    union = np.zeros_like(tile_m)
    contribs, slivers = [], []
    for sid, score, rect in ordered:
        m = mask(*rect)
        diff = m & ~union
        if not diff.any():
            continue
        if not (diff & tile_m).any():
            continue
        if float(areas[diff & tile_m].sum()) >= threshold:
            union |= m
            contribs.append((sid, score))
        else:
            slivers.append((sid, score, rect))
    for sid, score, rect in slivers:  # pass 2: no threshold
        m = mask(*rect)
        diff = m & ~union
        if diff.any() and (diff & tile_m).any():
            union |= m
            contribs.append((sid, score))
    contribs.reverse()
    return contribs


def cutline_expected(sf_dir: str, strips_sql: str, tile_deg: float = 10.0,
                     threshold: float = 1.0):
    """(tile_name, scene_id, paint_order) for every world tile whose bbox
    overlaps a strip envelope. ``strips_sql`` must yield columns
    (strip_id, s_xmin, s_xmax, s_ymin, s_ymax, score) from the documents
    parquet registered as view ``documents``."""
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')")
    strips = con.sql(strips_sql).fetchall()
    ncols, nrows = round(360 / tile_deg), round(180 / tile_deg)
    out = []
    for row in range(1, nrows + 1):
        for col in range(1, ncols + 1):
            tx0, ty0 = -180.0 + (col - 1) * tile_deg, -90.0 + (row - 1) * tile_deg
            rect = (tx0, ty0, tx0 + tile_deg, ty0 + tile_deg)
            cand = [
                (str(sid), float(score), (x0, y0, x1, y1))
                for sid, x0, x1, y0, y1, score in strips
                if x0 < rect[2] and x1 > rect[0] and y0 < rect[3] and y1 > rect[1]
            ]
            if not cand:
                continue
            name = f"world_{row:02d}_{col:02d}"
            for po, (sid, _sc) in enumerate(
                    _greedy_cutline_masks(rect, cand, threshold), start=1):
                out.append((name, sid, po))
    out.sort(key=lambda t: (t[0], t[2]))
    return out


# ------------------------------------------------- R1 trimmed footprint

def footprint_expected(sf_dir: str, pages_sql: str, res: int = 6):
    """(group_id, footprint_wkt, n_vertices) per strip — independent
    re-derivation of the reference's GetExactTrimmedGeom contract
    (/root/reference/lib/mosaic.py:911-981): scan occupancy rows north to
    south; per row with data push the right edge (last_col + 1, line) onto
    a top list and the left edge (first_col, line) onto a bottom list;
    ring = top + reversed(bottom), pixel->map via the gdal geotransform
    with the half-cell y offset. Written against the spec, not the engine:
    absolute grid indices and direct dict-of-rows bookkeeping here vs the
    engine's window-relative numpy occupancy matrix. All cell-edge
    coordinates at res=6 are exact binary fractions (360/64 = 5.625 =
    45/8), so both derivations produce bit-identical doubles and therefore
    identical '%.16f' WKT text.

    ``pages_sql`` must yield (group_id, lon, lat) rows with the documents
    parquet registered as view ``documents``."""
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')")
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    groups: dict[str, dict[int, set[int]]] = {}
    for gid, lon, lat in con.sql(pages_sql).fetchall():
        gx = min(n - 1, max(0, int((float(lon) + 180.0) / 360.0 * n)))
        gy = min(n - 1, max(0, int((float(lat) + 90.0) / 180.0 * n)))
        groups.setdefault(str(gid), {}).setdefault(gy, set()).add(gx)
    out = []
    for gid, rows in groups.items():
        top, bottom = [], []
        for gy in sorted(rows, reverse=True):  # north -> south scan
            cols = rows[gy]
            y = -90.0 + (gy + 1) * ch - ch * 0.5  # cell-center latitude
            top.append((-180.0 + (max(cols) + 1) * cw, y))
            bottom.append((-180.0 + min(cols) * cw, y))
        ring = top + bottom[::-1]
        pts = ", ".join(f"{x:.16f} {y:.16f}" for x, y in ring)
        first = f"{ring[0][0]:.16f} {ring[0][1]:.16f}"
        out.append((gid, f"POLYGON (( {pts}, {first} ))", len(ring)))
    out.sort(key=lambda t: t[0])
    return out


# ------------------------------------------- A4/A5 rect-union aggregate

def union_expected(sf_dir: str, rects_sql: str):
    """(group_id, union_area, bounds_wkt) per group — independent rect-union
    via coordinate compression (mark covered cells on the sorted-unique
    x/y break grid, sum cell areas) vs the engine's slab algebra. The
    battery feeds GRID-SNAPPED envelopes (dyadic edge coordinates), so
    every cell area and partial sum is exact in binary floating point and
    the doubles match bit-for-bit regardless of summation order.

    ``rects_sql`` must yield (group_id, x0, y0, x1, y1) rows with the
    documents parquet registered as view ``documents``."""
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')")
    groups: dict[str, list[tuple[float, float, float, float]]] = {}
    for gid, x0, y0, x1, y1 in con.sql(rects_sql).fetchall():
        groups.setdefault(str(gid), []).append(
            (float(x0), float(y0), float(x1), float(y1)))
    out = []
    for gid, rects in groups.items():
        xs = sorted({v for r in rects for v in (r[0], r[2])})
        ys = sorted({v for r in rects for v in (r[1], r[3])})
        covered = np.zeros((len(ys) - 1, len(xs) - 1), dtype=bool)
        for x0, y0, x1, y1 in rects:
            i0, i1 = xs.index(x0), xs.index(x1)
            j0, j1 = ys.index(y0), ys.index(y1)
            covered[j0:j1, i0:i1] = True
        area = 0.0
        for j in range(len(ys) - 1):
            for i in range(len(xs) - 1):
                if covered[j, i]:
                    area += (xs[i + 1] - xs[i]) * (ys[j + 1] - ys[j])
        bx0 = min(r[0] for r in rects)
        by0 = min(r[1] for r in rects)
        bx1 = max(r[2] for r in rects)
        by1 = max(r[3] for r in rects)
        wkt = (f"POLYGON (({bx0} {by0}, {bx0} {by1}, {bx1} {by1}, "
               f"{bx1} {by0}, {bx0} {by0}))")
        out.append((gid, area, wkt))
    out.sort(key=lambda t: t[0])
    return out


# --------------------------------------------- K3 manifest text rendering

def manifest_expected(sf_dir: str, strips_sql: str, tile_deg: float = 10.0,
                      threshold: float = 1.0):
    """(tile_name, manifest_text): the *_intersects.txt body — newline-
    joined contributor ids in paint order — built from this module's own
    cutline expectation, so the manifest oracle is independent end to end."""
    rows = cutline_expected(sf_dir, strips_sql, tile_deg, threshold)
    by_tile: dict[str, list[tuple[int, str]]] = {}
    for tile, sid, po in rows:
        by_tile.setdefault(tile, []).append((po, sid))
    return sorted(
        (tile, "\n".join(sid for _, sid in sorted(pairs)))
        for tile, pairs in by_tile.items()
    )


# ----------------------------------------------------------- SQL builders

def _values_sql(rows, columns_sql: str, order_by: str, ncols: int = 3) -> str:
    names = ", ".join(f"c{i}" for i in range(ncols))
    if not rows:
        nulls = ", ".join("NULL" for _ in range(ncols))
        return (f"SELECT {columns_sql} FROM (VALUES ({nulls})) t({names}) "
                f"WHERE FALSE")
    vals = ", ".join(
        "(" + ", ".join(
            "'" + v.replace("'", "''") + "'" if isinstance(v, str) else str(v)
            for v in r
        ) + ")"
        for r in rows
    )
    return (f"SELECT {columns_sql} FROM (VALUES {vals}) t({names}) "
            f"ORDER BY {order_by}")


@functools.lru_cache(maxsize=4)
def simhash_oracle_sql(sf_dir: str, max_hamming: int = 3) -> str:
    rows = simhash_expected_pairs(sf_dir, max_hamming)
    return _values_sql(
        rows,
        "CAST(c0 AS BIGINT) AS key_a, CAST(c1 AS BIGINT) AS key_b, "
        "CAST(c2 AS INTEGER) AS hamming",
        "key_a, key_b",
    )


@functools.lru_cache(maxsize=4)
def cutline_oracle_sql(sf_dir: str, strips_sql: str, tile_deg: float = 10.0,
                       threshold: float = 1.0) -> str:
    rows = cutline_expected(sf_dir, strips_sql, tile_deg, threshold)
    return _values_sql(
        rows,
        "CAST(c0 AS VARCHAR) AS tile_name, CAST(c1 AS VARCHAR) AS scene_id, "
        "CAST(c2 AS INTEGER) AS paint_order",
        "tile_name, paint_order",
    )


@functools.lru_cache(maxsize=4)
def footprint_oracle_sql(sf_dir: str, pages_sql: str, res: int = 6) -> str:
    rows = footprint_expected(sf_dir, pages_sql, res)
    return _values_sql(
        rows,
        "CAST(c0 AS VARCHAR) AS group_id, CAST(c1 AS VARCHAR) AS footprint_wkt, "
        "CAST(c2 AS INTEGER) AS n_vertices",
        "group_id",
    )


@functools.lru_cache(maxsize=4)
def union_oracle_sql(sf_dir: str, rects_sql: str) -> str:
    rows = union_expected(sf_dir, rects_sql)
    return _values_sql(
        rows,
        "CAST(c0 AS VARCHAR) AS group_id, CAST(c1 AS DOUBLE) AS union_area, "
        "CAST(c2 AS VARCHAR) AS bounds_wkt",
        "group_id",
    )


@functools.lru_cache(maxsize=4)
def manifest_oracle_sql(sf_dir: str, strips_sql: str, tile_deg: float = 10.0,
                        threshold: float = 1.0) -> str:
    rows = manifest_expected(sf_dir, strips_sql, tile_deg, threshold)
    return _values_sql(
        rows,
        "CAST(c0 AS VARCHAR) AS tile_name, CAST(c1 AS VARCHAR) AS manifest_text",
        "tile_name",
        ncols=2,
    )


# ------------------------------------------------------- DP simplify (E5)
#
# Recursive Douglas-Peucker, written independently of the engine's
# iterative-stack numpy version (imagery_utils_spark/operators/footprint.py
# _dp_simplify): plain-python floats, explicit recursion, strict-> argmax
# tie-break (first index wins — both formulations keep the identical point
# set because DP's kept set is independent of traversal order given a
# deterministic per-segment farthest-point rule). The fixture polylines are
# dyadic (x integer, y multiples of 0.25) so every cross product is exact
# and no distance can sit within ULP of the tolerance.

SIMPLIFY_GROUPS = 8
SIMPLIFY_PTS = 40
SIMPLIFY_TOL = 0.3


def simplify_fixture_point(gid: int, i: int) -> tuple[float, float]:
    """Shared input derivation (same arithmetic the engine's query runs in
    Spark over range(320)): x = i, y = ((i*(gid+2) + 3) % 7) * 0.25."""
    return float(i), ((i * (gid + 2) + 3) % 7) * 0.25


def _dp_recursive(pts: list[tuple[float, float]], tol: float) -> list[int]:
    keep = {0, len(pts) - 1}

    def recurse(a: int, b: int) -> None:
        if b - a < 2:
            return
        ax, ay = pts[a]
        bx, by = pts[b]
        sx, sy = bx - ax, by - ay
        L = (sx * sx + sy * sy) ** 0.5
        best_i, best_d = -1, -1.0
        for j in range(a + 1, b):
            dx, dy = pts[j][0] - ax, pts[j][1] - ay
            if L == 0.0:
                d = (dx * dx + dy * dy) ** 0.5
            else:
                d = abs(sx * dy - sy * dx) / L
            if d > best_d:
                best_i, best_d = j, d
        if best_d > tol:
            keep.add(best_i)
            recurse(a, best_i)
            recurse(best_i, b)

    recurse(0, len(pts) - 1)
    return sorted(keep)


def simplify_expected():
    rows = []
    for gid in range(SIMPLIFY_GROUPS):
        pts = [simplify_fixture_point(gid, i) for i in range(SIMPLIFY_PTS)]
        for seq, idx in enumerate(_dp_recursive(pts, SIMPLIFY_TOL)):
            rows.append((gid, seq, pts[idx][0], pts[idx][1]))
    return rows


@functools.lru_cache(maxsize=1)
def simplify_oracle_sql() -> str:
    return _values_sql(
        simplify_expected(),
        "CAST(c0 AS BIGINT) AS gid, CAST(c1 AS INT) AS seq, "
        "CAST(c2 AS DOUBLE) AS x, CAST(c3 AS DOUBLE) AS y",
        "gid, seq",
        ncols=4,
    )


# --------------------------------------------------- 180-degree wrap (C15/E4)
#
# Exact-rational reimplementation of the anti-meridian split contract
# (reference getWrappedGeometry, /root/reference/lib/utils.py:561-645),
# written against the spec, not the engine: vertices x<0 -> west part,
# x>=0 -> east, crossing points interpolated at +-180 in +360-shifted x
# space. All interpolation here is fractions.Fraction (exact); the fixture
# rings use power-of-two runs so the engine's float path is exact too and
# the two implementations must agree bit-for-bit.

WRAP_GROUPS = 8


def wrap_fixture_ring(gid: int) -> list[tuple[float, float]]:
    """Shared input derivation: a 4-vertex ring straddling the anti-meridian;
    x-run of every crossing edge is 64 (power of two), dys multiples of 4."""
    x_w = 128.0 + 8 * (gid % 3)
    x_e = x_w - 296.0  # shifted: x_w + 64
    y0 = float(4 * gid)
    return [(x_w, y0), (x_e, y0 + 8.0), (x_w, y0 + 16.0), (x_w - 8.0, y0 + 4.0)]


def _wrap_exact(ring: list[tuple[float, float]]):
    from fractions import Fraction as Fr

    west: list[tuple[float, float]] = []
    east: list[tuple[float, float]] = []
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        (west if x1 < 0.0 else east).append((x1, y1))
        s1 = (x1 > 0) - (x1 < 0)
        s2 = (x2 > 0) - (x2 < 0)
        if s1 != s2:
            x1s = Fr(x1) + (360 if x1 < 0.0 else 0)
            x2s = Fr(x2) + (360 if x2 < 0.0 else 0)
            y3 = (180 - x1s) * (Fr(y2) - Fr(y1)) / (x2s - x1s) + Fr(y1)
            west.append((-180.0, float(y3)))
            east.append((180.0, float(y3)))
    return [p for p in (west, east) if p]


def wrap_expected():
    rows = []
    for gid in range(WRAP_GROUPS):
        for part in _wrap_exact(wrap_fixture_ring(gid)):
            label = "W" if min(x for x, _y in part) < 0 else "E"
            for seq, (x, y) in enumerate(part):
                rows.append((gid, label, seq, x, y))
    return rows


@functools.lru_cache(maxsize=1)
def wrap_oracle_sql() -> str:
    return _values_sql(
        wrap_expected(),
        "CAST(c0 AS BIGINT) AS gid, CAST(c1 AS VARCHAR) AS part, "
        "CAST(c2 AS INT) AS seq, CAST(c3 AS DOUBLE) AS x, "
        "CAST(c4 AS DOUBLE) AS y",
        "gid, part, seq",
        ncols=5,
    )


# ------------------------------------------------- winnowing fingerprints
#
# Independent reimplementation of the SIGMOD'03 winnowing fingerprint
# (text.py winnowing_fingerprints_udf is prefix-difference numpy uint64):
# here each k-gram hash is computed DIRECTLY as the polynomial
# sum(c_j * B^(k-1-j)) mod 2^64 in plain python ints — mathematically equal
# to the engine's rolling-difference formulation, arrived at separately.

_WB = 1000003
_WMASK = (1 << 64) - 1


def _winnow_doc(text: str, k: int = 5, window: int = 4) -> list[int]:
    s = (text or "").lower().encode("utf-8")
    if len(s) < k:
        return []
    grams = []
    for i in range(len(s) - k + 1):
        h = 0
        for c in s[i:i + k]:
            h = (h * _WB + c) & _WMASK
        grams.append(h)
    if len(grams) < window:
        sel = {min(grams)}
    else:
        sel = {min(grams[i:i + window]) for i in range(len(grams) - window + 1)}
    # two's-complement view to match the engine's int64 output
    return sorted((v - (1 << 64)) if v >= (1 << 63) else v for v in sel)


def winnow_expected(sf_dir: str):
    import hashlib

    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    out = []
    for doc_id, text in rows:
        fps = _winnow_doc(text)
        joined = ",".join(str(v) for v in fps)
        out.append((int(doc_id), len(fps),
                    hashlib.sha256(joined.encode()).hexdigest()))
    return out


@functools.lru_cache(maxsize=4)
def winnow_oracle_sql(sf_dir: str) -> str:
    return _values_sql(
        winnow_expected(sf_dir),
        "CAST(c0 AS BIGINT) AS doc_id, CAST(c1 AS INT) AS n_fps, "
        "CAST(c2 AS VARCHAR) AS fps_sha",
        "doc_id",
    )


# ------------------------------------------------- marching-squares contour

def contour_expected(sf_dir: str, pages_sql: str, res: int = 5,
                     level: int = 2):
    """One (n_segments, coord_sum, seg_sha) row — independent
    re-derivation of the midpoint marching-squares boundary. Written
    pattern-wise, NOT as a 16-case table: per 2x2 window classify the
    above-corner PATTERN (singleton / adjacent domino / diagonal pair /
    triple) and emit the edges adjacent to each above island — the
    same geometry the engine's config CASE chain produces, derived
    from the region structure instead. Saddles (diagonal pairs) emit
    each above corner's own adjacent-edge segment (the engine's
    documented resolution).

    ``pages_sql`` must yield (lon, lat) with ``documents`` registered.
    """
    import hashlib

    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')")
    n = 1 << res
    counts = np.zeros((n, n), dtype=np.int64)   # [y, x]
    for lon, lat in con.sql(pages_sql).fetchall():
        gx = min(n - 1, max(0, int((float(lon) + 180.0) / 360.0 * n)))
        gy = min(n - 1, max(0, int((float(lat) + 90.0) / 180.0 * n)))
        counts[gy, gx] += 1
    above = counts >= level
    # corner order clockwise from TL; adjacent edges per corner
    corner_edges = {
        "tl": ((1, 0), (0, 1)),     # top, left (half-unit offsets)
        "tr": ((1, 0), (2, 1)),     # top, right
        "br": ((1, 2), (2, 1)),     # bottom, right
        "bl": ((1, 2), (0, 1)),     # bottom, left
    }
    ring = ["tl", "tr", "br", "bl"]
    segs = []
    for y in range(n - 1):
        for x in range(n - 1):
            vals = {"tl": above[y, x], "tr": above[y, x + 1],
                    "br": above[y + 1, x + 1], "bl": above[y + 1, x]}
            ups = [c for c in ring if vals[c]]
            k = len(ups)
            islands: list[list[str]] = []
            if k in (1, 3):
                # singleton island: the lone above (k=1) or lone below
                # complemented (k=3 -> boundary hugs the below corner)
                lone = ups[0] if k == 1 else \
                    [c for c in ring if not vals[c]][0]
                islands = [[lone]]
            elif k == 2:
                a, bb = ups
                ia, ib = ring.index(a), ring.index(bb)
                if (ia - ib) % 4 in (1, 3):       # adjacent domino
                    islands = [[a, bb]]
                else:                              # diagonal saddle
                    islands = [[a], [bb]]
            for isl in islands:
                if len(isl) == 1:
                    e1, e2 = corner_edges[isl[0]]
                else:
                    # domino: the two edges NOT interior to the pair —
                    # each member's adjacent edge not shared with the other
                    ea = set(corner_edges[isl[0]])
                    eb = set(corner_edges[isl[1]])
                    e1 = next(iter(ea - eb))
                    e2 = next(iter(eb - ea))
                    # drop the edge between the two below corners? No:
                    # ea-eb and eb-ea are exactly the crossing edges.
                p1 = (2 * x + e1[0], 2 * y + e1[1])
                p2 = (2 * x + e2[0], 2 * y + e2[1])
                if p2 < p1:
                    p1, p2 = p2, p1
                segs.append((p1[0], p1[1], p2[0], p2[1]))
    segs.sort()
    sha = hashlib.sha256(
        "\n".join(",".join(map(str, s)) for s in segs).encode()
    ).hexdigest()
    coord_sum = int(sum(sum(s) for s in segs))
    return [(len(segs), coord_sum, sha)]


@functools.lru_cache(maxsize=4)
def contour_oracle_sql(sf_dir: str, pages_sql: str, res: int = 5,
                       level: int = 2) -> str:
    rows = contour_expected(sf_dir, pages_sql, res, level)
    return _values_sql(
        rows,
        "CAST(c0 AS BIGINT) AS n_segments, CAST(c1 AS BIGINT) AS "
        "coord_sum, CAST(c2 AS VARCHAR) AS seg_sha",
        "n_segments",
    )


# --------------------------------------------------- RFC 3986 resolution

_HREF_CLASSES = 13


def _url_case(doc_id: int) -> tuple[str, str]:
    d = doc_id
    base = f"https://host{d % 97}.example" + \
        ["/a/b/page.html", "/a/b/c/", "/page", ""][d % 4]
    href = [f"https://other.example/x{d}", "//cdn.example/lib.js",
            f"/root/x{d % 7}", f"img{d % 5}.png", "./img.png",
            "../up.html", "../../up2.html", "../../../over.html",
            f"sub/dir/p{d % 9}", "#frag", "?q=1", "",
            "a/./b/../c"][d % _HREF_CLASSES]
    return base, href


def url_resolve_expected(sf_dir: str):
    """(doc_id, resolved) — CPython's urllib.parse.urljoin (the
    de-facto RFC 3986 executable) over the battery's deterministic
    (base, href) classes; the engine resolves the same pairs with pure
    column algebra (functions/urlnorm.resolve_url). Independent by
    construction: a C-tested reference implementation, not a replay."""
    from urllib.parse import urljoin

    import duckdb

    con = duckdb.connect()
    ids = [r[0] for r in con.sql(
        f"SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet') "
        "ORDER BY doc_id").fetchall()]
    out = []
    for d in ids:
        base, href = _url_case(int(d))
        out.append((int(d), urljoin(base, href)))
    return out


@functools.lru_cache(maxsize=4)
def url_resolve_oracle_sql(sf_dir: str) -> str:
    rows = url_resolve_expected(sf_dir)
    return _values_sql(
        rows,
        "CAST(c0 AS BIGINT) AS doc_id, CAST(c1 AS VARCHAR) AS resolved",
        "doc_id", ncols=2,
    )


# ------------------------------------------------ frontier expansion

def frontier_expected(sf_dir: str):
    """(host, n_links, n_targets) — python re + urljoin replay of the
    composed extract->resolve->rollup pipeline (q_frontier_expand)."""
    import re
    from urllib.parse import urljoin

    import duckdb

    con = duckdb.connect()
    ids = [int(r[0]) for r in con.sql(
        f"SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()]
    pat = re.compile(r'<a href="([^"]*)">([^<]*)</a>')
    per_host: dict[str, list[str]] = {}
    for d in ids:
        url = f"https://host{d % 97}.example/a/b/page{d}.html"
        html = (f'<a href="https://ext{(d * 3) % 31}.example/x">ext</a>'
                f'<a href="/sec/{d % 11}/doc.html">sec</a>'
                f'<a href="../up/{d % 5}.html">up</a>')
        for href, _txt in pat.findall(html):
            t = urljoin(url, href)
            m = re.match(r"^https?://([^/]+)/", t)
            per_host.setdefault(m.group(1), []).append(t)
    rows = [(h, len(ts), len(set(ts)))
            for h, ts in sorted(per_host.items())]
    return rows


@functools.lru_cache(maxsize=4)
def frontier_oracle_sql(sf_dir: str) -> str:
    rows = frontier_expected(sf_dir)
    return _values_sql(
        rows,
        "CAST(c0 AS VARCHAR) AS host, CAST(c1 AS BIGINT) AS n_links, "
        "CAST(c2 AS BIGINT) AS n_targets",
        "host",
    )


# ------------------------------------------------ Spark hash internals
# Pure-Python reimplementations of the three hash functions Spark exposes
# as columns (and uses internally for shuffle partitioning and bloom
# filters), written from the Murmur3/XXH64 algorithm specs — NOT replays
# of Spark. Verified against F.hash / F.xxhash64 / F.crc32 on 23 edge
# vectors (all tail lengths, unicode, sign-extension, long extremes).

_M32 = 0xFFFFFFFF
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _m3_mix(h1: int, k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = _rotl32(k1, 15)
    k1 = (k1 * 0x1B873593) & _M32
    h1 ^= k1
    h1 = _rotl32(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _M32


def _m3_fmix(h1: int, n: int) -> int:
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def murmur3_spark_bytes(data: bytes, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashUnsafeBytes: 4-byte LE words, then each
    trailing byte mixed INDIVIDUALLY as a sign-extended int (this tail
    treatment is where Spark deviates from canonical Murmur3)."""
    import struct

    h1 = seed & _M32
    n = len(data)
    rounded = n & ~3
    for i in range(0, rounded, 4):
        h1 = _m3_mix(h1, struct.unpack_from("<i", data, i)[0] & _M32)
    for i in range(rounded, n):
        b = data[i]
        if b >= 128:
            b -= 256  # sign-extended byte
        h1 = _m3_mix(h1, b & _M32)
    return _m3_fmix(h1, n)


def murmur3_spark_long(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashLong: low int then high int."""
    h1 = seed & _M32
    h1 = _m3_mix(h1, v & _M32)
    h1 = _m3_mix(h1, (v >> 32) & _M32)
    return _m3_fmix(h1, 8)


_XP1, _XP2, _XP3, _XP4, _XP5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_spark_bytes(data: bytes, seed: int = 42) -> int:
    """Canonical XXH64 (Spark's XXH64.hashUnsafeBytes is spec-compliant):
    32-byte stripes, then 8-byte, one 4-byte, then single bytes."""
    import struct

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XP1 + _XP2) & _M64
        v2 = (seed + _XP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XP1) & _M64
        while i <= n - 32:
            for j in range(4):
                k = struct.unpack_from("<Q", data, i)[0]
                acc = (v1, v2, v3, v4)[j]
                acc = (_rotl64((acc + k * _XP2) & _M64, 31) * _XP1) & _M64
                if j == 0:
                    v1 = acc
                elif j == 1:
                    v2 = acc
                elif j == 2:
                    v3 = acc
                else:
                    v4 = acc
                i += 8
        h = (_rotl64(v1, 1) + _rotl64(v2, 7)
             + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl64((v * _XP2) & _M64, 31) * _XP1) & _M64
            h = (h * _XP1 + _XP4) & _M64
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        k = struct.unpack_from("<Q", data, i)[0]
        h ^= (_rotl64((k * _XP2) & _M64, 31) * _XP1) & _M64
        h = (_rotl64(h, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i <= n - 4:
        k = struct.unpack_from("<I", data, i)[0]
        h ^= (k * _XP1) & _M64
        h = (_rotl64(h, 23) * _XP2 + _XP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XP5) & _M64
        h = (_rotl64(h, 11) * _XP1) & _M64
        i += 1
    return _xx_fmix(h)


def xxh64_spark_long(v: int, seed: int = 42) -> int:
    h = (seed + _XP5 + 8) & _M64
    h ^= (_rotl64((v & _M64) * _XP2 & _M64, 31) * _XP1) & _M64
    h = (_rotl64(h, 27) * _XP1 + _XP4) & _M64
    return _xx_fmix(h)


def _hash_inputs(sf_dir: str):
    """(doc_id, url, text_prefix) triples both engines derive identically:
    url is synthesized from doc_id; text_prefix is the first 80 chars of
    documents.text straight from the parquet."""
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, substr(text, 1, 80) FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    return [(int(d), f"https://host{int(d) % 97}.example/p/{int(d)}", t)
            for d, t in rows]


def hash_partition_expected(sf_dir: str):
    """(doc_id, h_key, h_url, h_text, part_32) — Spark's shuffle hash
    (Murmur3_x86_32 seed 42) over the long key, the synthesized url, and
    the text prefix, plus pmod(h_key, 32): the exact partition id a
    32-partition hash shuffle on doc_id would assign."""
    out = []
    for d, url, text in _hash_inputs(sf_dir):
        hk = murmur3_spark_long(d & _M64)
        out.append((d, hk, murmur3_spark_bytes(url.encode("utf-8")),
                    murmur3_spark_bytes(text.encode("utf-8")),
                    hk % 32 if hk % 32 >= 0 else hk % 32 + 32))
    return out


@functools.lru_cache(maxsize=4)
def hash_partition_oracle_sql(sf_dir: str) -> str:
    rows = hash_partition_expected(sf_dir)
    return _values_sql(
        rows,
        "CAST(c0 AS BIGINT) AS doc_id, CAST(c1 AS INTEGER) AS h_key, "
        "CAST(c2 AS INTEGER) AS h_url, CAST(c3 AS INTEGER) AS h_text, "
        "CAST(c4 AS INTEGER) AS part_32",
        "doc_id", ncols=5,
    )


def xxhash_shard_expected(sf_dir: str):
    """(doc_id, x_key, x_url, x_text, shard_64) — XXH64 seed 42 (Spark's
    bloom-filter / xxhash64() hash) over the same three inputs, plus
    pmod(x_key, 64)."""
    out = []
    for d, url, text in _hash_inputs(sf_dir):
        xk = xxh64_spark_long(d & _M64)
        out.append((d, xk, xxh64_spark_bytes(url.encode("utf-8")),
                    xxh64_spark_bytes(text.encode("utf-8")),
                    xk % 64 if xk % 64 >= 0 else xk % 64 + 64))
    return out


@functools.lru_cache(maxsize=4)
def xxhash_shard_oracle_sql(sf_dir: str) -> str:
    rows = xxhash_shard_expected(sf_dir)
    return _values_sql(
        rows,
        "CAST(c0 AS BIGINT) AS doc_id, CAST(c1 AS BIGINT) AS x_key, "
        "CAST(c2 AS BIGINT) AS x_url, CAST(c3 AS BIGINT) AS x_text, "
        "CAST(c4 AS BIGINT) AS shard_64",
        "doc_id", ncols=5,
    )


def crc32_expected(sf_dir: str):
    """(doc_id, crc_url, crc_text) — IEEE 802.3 CRC-32 via CPython's zlib
    (a C-tested reference implementation, independent of Spark's JVM
    java.util.zip.CRC32)."""
    import zlib

    return [(d, zlib.crc32(url.encode("utf-8")),
             zlib.crc32(text.encode("utf-8")))
            for d, url, text in _hash_inputs(sf_dir)]


@functools.lru_cache(maxsize=4)
def crc32_oracle_sql(sf_dir: str) -> str:
    rows = crc32_expected(sf_dir)
    return _values_sql(
        rows,
        "CAST(c0 AS BIGINT) AS doc_id, CAST(c1 AS BIGINT) AS crc_url, "
        "CAST(c2 AS BIGINT) AS crc_text",
        "doc_id",
    )


_NAME_STEMS = [
    "Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak", "Pfister",
    "Honeyman", "Jackson", "Schmidt", "Smith", "Smythe", "Gauss",
    "Ghosh", "Heilbronn", "Lloyd", "Moses", "Washington", "Lee",
    "Gutierrez", "Vandeusen", "Deusen", "Knuth", "Kant", "Oconnor",
]
