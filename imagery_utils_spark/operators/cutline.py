"""Greedy cutline selection (``determine_contributors``) as a grouped-map op.

Exact two-pass semantics of /root/reference/lib/mosaic.py:743-789:

pass 1 (descending score): ``diff = geom - union_so_far``; skip when empty or
when ``diff`` does not intersect the tile; else ``contrib = diff ∩ tile``;
keep iff ``contrib.area >= contribution_threshold`` — accepted scenes fold
their **full geometry** (not the clip) into the union; rejected slivers are
remembered.
pass 2: sliver scenes retried in pass-1 order against the final union with
**no area threshold** (gap filling).
Output order: reference returns highest score LAST (paint order for the
last-writer-wins composite, /root/reference/pgc_mosaic_build_tile.py:170-183);
``paint_order`` here is that list position (1-based).

Determinism: the reference's ascending sort is Python-stable on input scan
order, which is not reproducible in a distributed engine; this operator
totally orders candidates by (score ASC, scene_id ASC) before the reversal,
i.e. ties are broken by scene_id DESC in the descending pass. Fixture scenes
must not carry tied scores when asserting parity with the reference.

Scale shape: sequential **within** a tile (each accept mutates the union),
embarrassingly parallel **across** tiles -> ``groupBy(tile).applyInPandas``.
Candidate lists per tile are bounded (scenes overlapping one 100 km tile),
so the group payload is small even at 10^12-page scale; the page->tile fact
join stays broadcast + column-only (see spatial_join.py). Geometry algebra is
the exact scanline region algebra in core.region (GEOS-free).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .._column_cache import per_jvm
from ..core.region import Region

DEFAULT_CONTRIBUTION_THRESHOLD = 20_000_000.0  # m^2, /root/reference/pgc_mosaic.py:66-68

CUTLINE_SCHEMA = (
    "tile_name string, scene_id string, score double, contrib_area double, "
    "paint_order int"
)


def determine_contributors(
    scenes: list[tuple[str, float, Region]],
    tile_region: Region,
    contribution_threshold: float,
) -> list[tuple[str, float, Region]]:
    """Pure-python core (unit-testable without Spark).

    ``scenes``: (scene_id, score, geom) sorted ASCENDING by (score, scene_id)
    — mirrors the reference's pre-sorted ``imginfo_list``.
    Returns (scene_id, score, contrib_region) with highest score last.
    """
    ordered = list(reversed(scenes))  # highest score first (lib/mosaic.py:747)
    union = Region.empty()
    contribs: list[tuple[str, float, Region]] = []
    slivers: list[tuple[str, float, Region]] = []

    for sid, score, geom in ordered:
        diff = geom.difference(union)
        if diff.is_empty():
            continue
        if not diff.intersects(tile_region):
            continue
        contrib = diff.intersection(tile_region)
        if contrib.area() >= contribution_threshold:
            union = union.union(geom)  # full geometry, not the clip
            contribs.append((sid, score, contrib))
        else:
            slivers.append((sid, score, geom))

    for sid, score, geom in slivers:  # second pass: no threshold
        diff = geom.difference(union)
        if not diff.is_empty() and diff.intersects(tile_region):
            contrib = diff.intersection(tile_region)
            union = union.union(geom)
            contribs.append((sid, score, contrib))

    contribs.reverse()  # highest score last (lib/mosaic.py:788)
    return contribs


def cutline_contributors(
    candidates: DataFrame,
    contribution_threshold: float = DEFAULT_CONTRIBUTION_THRESHOLD,
    geom_col: str = "geom_wkt",
    max_slab: float | None = None,
) -> DataFrame:
    """Distributed cutline: ``candidates`` carries one row per (tile, scene)
    pair from the spatial join, with columns ``tile_name, xmin, xmax, ymin,
    ymax`` (tile rect), ``scene_id, score`` and a scene footprint — either a
    WKT polygon column ``geom_col`` or rect columns ``s_xmin/s_xmax/s_ymin/
    s_ymax``."""
    use_wkt = geom_col in candidates.columns

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        tile_name = pdf["tile_name"].iloc[0]
        tile_region = Region.from_rect(
            pdf["xmin"].iloc[0], pdf["ymin"].iloc[0],
            pdf["xmax"].iloc[0], pdf["ymax"].iloc[0],
        )
        rows = []
        if use_wkt:
            for sid, sc, wkt in zip(pdf["scene_id"], pdf["score"], pdf[geom_col]):
                rows.append((str(sid), float(sc), Region.from_wkt(wkt, max_slab=max_slab)))
        else:
            for sid, sc, x0, y0, x1, y1 in zip(
                pdf["scene_id"], pdf["score"], pdf["s_xmin"], pdf["s_ymin"],
                pdf["s_xmax"], pdf["s_ymax"],
            ):
                rows.append((str(sid), float(sc), Region.from_rect(x0, y0, x1, y1)))
        rows.sort(key=lambda t: (t[1], t[0]))  # ascending, deterministic ties
        selected = determine_contributors(rows, tile_region, contribution_threshold)
        return pd.DataFrame(
            {
                "tile_name": tile_name,
                "scene_id": [s for s, _, _ in selected],
                "score": [sc for _, sc, _ in selected],
                "contrib_area": [g.area() for _, _, g in selected],
                "paint_order": range(1, len(selected) + 1),
            }
        )

    return candidates.groupBy("tile_name").applyInPandas(run, schema=CUTLINE_SCHEMA)


def intersect_manifest(contributors: DataFrame) -> DataFrame:
    """Per-tile contributor manifest — the ``*_intersects.txt`` sink analog
    (/root/reference/pgc_mosaic.py:546-551): ordered contributor list +
    count per tile."""
    return contributors.groupBy("tile_name").agg(*_manifest_cols())


@per_jvm
def _manifest_cols() -> tuple[Column, Column]:
    return (
        F.count("*").alias("n_contribs"),
        F.array_sort(
            F.collect_list(F.struct("paint_order", "scene_id"))
        ).getField("scene_id").alias("scene_ids"),
    )
