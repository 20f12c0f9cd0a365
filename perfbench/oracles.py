"""Expected outputs, computed without Spark, and the checks against them.

* ``query_index``: DuckDB replays the flagship over the same parquet with the
  package's SQL forms (``lonlat_sql``, ``scene_attrs_sql``,
  ``score_gated_sql``); the check compares the row count and an
  order-insensitive CRC-32 sum and xor of ``doc_id|tile_name|tile_rank``.
* ``catalog_build``: DuckDB derives strip envelopes and scores; footprints of
  a fixed sample of strips are re-derived from the occupancy contract
  (in the style of ``independent_oracles.footprint_expected``).
* ``mosaic_build``: ``independent_oracles._greedy_cutline_masks`` selects the
  contributors per tile from the catalog envelopes, and a NumPy painter paints
  their footprints in paint order onto the tile pixel centres.
"""

from __future__ import annotations

import os
import re
import zlib

import duckdb
import numpy as np
import pyarrow.parquet as pq

from imagery_utils_spark.functions.scoring import ScoreParams
from imagery_utils_spark.plans import mosaic_query as MQ
from imagery_utils_spark.sources import pages as P

from . import pipeline as PL


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _pages_view(con, pages_path: str) -> None:
    lon, lat = P.lonlat_sql("doc_id")
    con.sql(f"CREATE VIEW pages AS SELECT doc_id, warc_ts, CAST({lon} AS DOUBLE) AS lon, "
            f"CAST({lat} AS DOUBLE) AS lat "
            f"FROM read_parquet('{os.path.join(pages_path, '*.parquet')}')")


def crc_row(doc_id, tile_name, tile_rank) -> int:
    return zlib.crc32(f"{doc_id}|{tile_name}|{tile_rank}".encode())


# ------------------------------------------------------------ query_index

def query_index_expected(pages_path: str) -> tuple[int, int, int]:
    """(rows, sum of row CRCs, xor of row CRCs) of the ranked output."""
    con = duckdb.connect()
    _pages_view(con, pages_path)
    attrs = MQ.scene_attrs_sql("doc_id")
    score = MQ.score_gated_sql(ScoreParams(bands=1), attrs, acq="warc_ts")
    row = "least(18, greatest(1, CAST(floor((lat + 90.0) / 10.0) + 1 AS INTEGER)))"
    col = "least(36, greatest(1, CAST(floor((lon + 180.0) / 10.0) + 1 AS INTEGER)))"
    name = (f"'world_' || lpad(CAST({row} AS VARCHAR), 2, '0') || '_' || "
            f"lpad(CAST({col} AS VARCHAR), 2, '0')")
    rows = con.sql(
        f"WITH scored AS (SELECT doc_id, {name} AS tile_name, {score} AS score FROM pages) "
        "SELECT doc_id, tile_name, row_number() OVER (PARTITION BY tile_name "
        "ORDER BY score DESC, doc_id ASC) AS tile_rank FROM scored WHERE score > 0"
    ).fetchall()
    con.close()
    total = xor = 0
    for r in rows:
        c = crc_row(*r)
        total += c
        xor ^= c
    return len(rows), total, xor


# ----------------------------------------------------------- catalog_build

def _strips_sql() -> str:
    off = f"CAST(doc_id % {PL.PHASES} AS DOUBLE) * {PL.STRIP_DEG / PL.PHASES!r}"
    wx = f"CAST(floor((lon - {off}) / {PL.STRIP_DEG!r}) AS BIGINT)"
    wy = f"CAST(floor((lat - {off}) / {PL.STRIP_DEG!r}) AS BIGINT)"
    return (f"SELECT doc_id, lon, lat, CAST(doc_id % {PL.PHASES} AS VARCHAR) || '_' || "
            f"CAST({wx} AS VARCHAR) || '_' || CAST({wy} AS VARCHAR) AS scene_id FROM pages")


def catalog_expected(pages_path: str, sample: int = 64):
    """(envelopes: scene_id -> (s_xmin, s_xmax, s_ymin, s_ymax, score, n_pages),
    footprints of every ``len // sample``-th strip: scene_id -> (wkt, n_vertices))."""
    con = duckdb.connect()
    _pages_view(con, pages_path)
    con.sql(f"CREATE VIEW strips AS {_strips_sql()}")
    env = {r[0]: tuple(r[1:]) for r in con.sql(
        "SELECT scene_id, min(lon), max(lon), min(lat), max(lat), "
        f"avg({PL.SCORE_SQL}), count(*) FROM strips GROUP BY scene_id").fetchall()}
    ids = sorted(env)
    picked = ids[::max(1, len(ids) // sample)]
    listed = ", ".join(f"'{s}'" for s in picked)
    pts = con.sql(f"SELECT scene_id, lon, lat FROM strips WHERE scene_id IN ({listed})").fetchall()
    con.close()
    return env, footprints_expected(pts, PL.FOOTPRINT_RES)


def footprints_expected(points, res: int) -> dict[str, tuple[str, int]]:
    """Staircase footprint per group from absolute occupancy-grid indices:
    scan rows north to south; each row pushes its right edge onto the top
    list and its left edge onto the bottom list; ring = top + reversed
    bottom, at cell-centre latitudes. Cell edges are binary fractions, so the
    doubles (and the ``%.16f`` text) are exact."""
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    groups: dict[str, dict[int, list[int]]] = {}
    for gid, lon, lat in points:
        gx = min(n - 1, max(0, int((lon + 180.0) / 360.0 * n)))
        gy = min(n - 1, max(0, int((lat + 90.0) / 180.0 * n)))
        cols = groups.setdefault(gid, {}).setdefault(gy, [gx, gx])
        cols[0], cols[1] = min(cols[0], gx), max(cols[1], gx)
    out = {}
    for gid, rows in groups.items():
        top, bottom = [], []
        for gy in sorted(rows, reverse=True):
            lo, hi = rows[gy]
            y = -90.0 + (gy + 1) * ch - ch * 0.5
            top.append((-180.0 + (hi + 1) * cw, y))
            bottom.append((-180.0 + lo * cw, y))
        ring = top + bottom[::-1]
        body = ", ".join(f"{x:.16f} {y:.16f}" for x, y in ring)
        out[gid] = (f"POLYGON (( {body}, {ring[0][0]:.16f} {ring[0][1]:.16f} ))", len(ring))
    return out


def check_catalog(path: str, expected) -> int:
    """Compare a written catalog with the expectation; returns its row count."""
    env, footprints = expected
    t = pq.read_table(path).to_pydict()
    got = {sid: (t["s_xmin"][i], t["s_xmax"][i], t["s_ymin"][i], t["s_ymax"][i],
                 t["score"][i], t["n_pages"][i])
           for i, sid in enumerate(t["scene_id"])}
    _require(len(got) == len(t["scene_id"]), "duplicate scene ids")
    _require(got == env, f"envelopes differ on {len(set(got.items()) ^ set(env.items()))} rows")
    wkt = dict(zip(t["scene_id"], zip(t["geom_wkt"], t["n_vertices"])))
    bad = [sid for sid, fp in footprints.items() if wkt.get(sid) != fp]
    _require(not bad, f"footprints differ for {bad[:3]}")
    return len(got)


def read_scenes(path: str) -> dict[str, dict]:
    t = pq.read_table(path).to_pydict()
    return {sid: {k: t[k][i] for k in t} for i, sid in enumerate(t["scene_id"])}


# ------------------------------------------------------------ mosaic_build

def tile_rects():
    """name -> (xmin, ymin, xmax, ymax) of the world 10-degree grid."""
    d = PL.TILE_DEG
    nrows, ncols = round(180 / d), round(360 / d)
    return {f"world_{r:02d}_{c:02d}": (-180.0 + (c - 1) * d, -90.0 + (r - 1) * d,
                                       -180.0 + c * d, -90.0 + r * d)
            for r in range(1, nrows + 1) for c in range(1, ncols + 1)}


def tile_candidates(scenes: dict[str, dict]) -> dict[str, list]:
    """tile -> [(scene_id, score, (x0, y0, x1, y1))] whose envelope overlaps it."""
    ids = list(scenes)
    x0 = np.array([scenes[s]["s_xmin"] for s in ids])
    x1 = np.array([scenes[s]["s_xmax"] for s in ids])
    y0 = np.array([scenes[s]["s_ymin"] for s in ids])
    y1 = np.array([scenes[s]["s_ymax"] for s in ids])
    out = {}
    for name, (tx0, ty0, tx1, ty1) in tile_rects().items():
        hit = np.flatnonzero((x0 < tx1) & (x1 > tx0) & (y0 < ty1) & (y1 > ty0))
        if hit.size:
            out[name] = [(ids[i], float(scenes[ids[i]]["score"]),
                          (float(x0[i]), float(y0[i]), float(x1[i]), float(y1[i])))
                         for i in hit]
    return out


def cutline_expected(candidates: dict[str, list]) -> dict[str, list[str]]:
    """tile -> contributor scene ids in paint order (highest score last)."""
    from independent_oracles import _greedy_cutline_masks

    rects = tile_rects()
    out = {}
    for name, cand in candidates.items():
        picked = _greedy_cutline_masks(rects[name], cand, PL.CUTLINE_THRESHOLD)
        if picked:
            out[name] = [sid for sid, _score in picked]
    return out


_NUM = re.compile(r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?")


def join_ring(wkt: str) -> np.ndarray:
    """Vertices of a single-ring polygon as the spatial join refines it: the
    join re-renders each ring with 10 significant digits before testing."""
    v = [float(f"{float(s):.10g}") for s in _NUM.findall(wkt)]
    ring = np.array(v, dtype=np.float64).reshape(-1, 2)
    return ring[:-1] if len(ring) > 1 and (ring[0] == ring[-1]).all() else ring


def inside(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Non-zero winding rule, half-open in y (a point on an edge is decided the
    same way as the engine's refine)."""
    wn = np.zeros(px.shape, dtype=np.int64)
    n = len(ring)
    for i in range(n):
        x0, y0 = ring[i]
        x1, y1 = ring[(i + 1) % n]
        cross = (x1 - x0) * (py - y0) - (px - x0) * (y1 - y0)
        wn += ((y0 <= py) & (y1 > py) & (cross > 0)).astype(np.int64)
        wn -= ((y0 > py) & (y1 <= py) & (cross < 0)).astype(np.int64)
    return wn != 0


def pixel_centres(tile: str):
    """(lon, lat) of every pixel centre of a tile, row 0 at the top, flattened
    row-major — the same arithmetic as ``pipeline.pixel_centres``."""
    tx0, _ty0, _tx1, ty1 = tile_rects()[tile]
    c = np.arange(PL.TILE_PX, dtype=np.int64)
    lon = tx0 + (c + 0.5) * PL.PX_DEG
    lat = ty1 - (c + 0.5) * PL.PX_DEG
    return np.tile(lon, PL.TILE_PX), np.repeat(lat, PL.TILE_PX)


def paint_expected(scenes: dict[str, dict], order: dict[str, list[str]]) -> dict[str, np.ndarray]:
    """Brute-force painter: tile -> (H, W) paint order of the winning
    contributor per pixel (0 = unpainted); tiles with no painted pixel are
    left out, as the raster sink writes no file for them."""
    out = {}
    for tile, sids in order.items():
        lon, lat = pixel_centres(tile)
        img = np.zeros(lon.shape, dtype=np.int64)
        for po, sid in enumerate(sids, start=1):
            img[inside(lon, lat, join_ring(scenes[sid]["geom_wkt"]))] = po
        if img.any():
            out[tile] = img.reshape(PL.TILE_PX, PL.TILE_PX)
    return out


def decode_paint_order(path: str) -> np.ndarray:
    """Paint order per pixel from a 24-bit BMP written by the raster sink
    (red = order % 256, green = order // 256, blue = 255 where painted)."""
    with open(path, "rb") as f:
        blob = f.read()
    _require(blob[:2] == b"BM", f"{path} is not a BMP")
    off = int.from_bytes(blob[10:14], "little")
    w = int.from_bytes(blob[18:22], "little", signed=True)
    h = int.from_bytes(blob[22:26], "little", signed=True)
    stride = (3 * w + 3) // 4 * 4
    px = np.frombuffer(blob, np.uint8, stride * abs(h), off).reshape(abs(h), stride)[:, :3 * w]
    bgr = px.reshape(abs(h), w, 3).astype(np.int64)
    if h > 0:  # bottom-up rows
        bgr = bgr[::-1]
    return np.where(bgr[..., 0] == 255, bgr[..., 2] + 256 * bgr[..., 1], 0)


def check_mosaic(result, order: dict[str, list[str]], painted: dict[str, np.ndarray]) -> None:
    manifest, rasters, lineage_dir = result
    got = {r["tile_name"]: list(r["scene_ids"]) for r in manifest}
    _require(got == order, "cutline contributors or paint order differ")
    files = {r["tile_name"]: r for r in rasters}
    _require(set(files) == set(painted), "raster tiles differ")
    for tile, want in painted.items():
        img = decode_paint_order(files[tile]["path"])
        _require(np.array_equal(img, want), f"pixel winners differ in {tile}")
        _require(files[tile]["n_pixels"] == int((want > 0).sum()), f"pixel count of {tile}")
    commits = pq.read_table(os.path.join(lineage_dir, "lineage")).to_pydict()
    units = dict(zip(commits["unit_id"], commits["n_rows"]))
    want = {t: r["n_pixels"] for t, r in files.items()}
    _require(units == want, f"lineage units differ: {sorted(units.items())[:3]} vs {sorted(want.items())[:3]}")
