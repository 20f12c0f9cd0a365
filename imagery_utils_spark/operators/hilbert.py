"""Hilbert-curve cell index as pure column algebra (shared SQL text).

Z-order (operators/zorder.py) is the cheap space-filling layout; the
Hilbert curve is the better one — EVERY consecutive pair of indices is
edge-adjacent in the grid (|dx|+|dy| = 1), so range scans touch
spatially contiguous runs with no Morton "seams". It is also the curve
inside Google S2's cell ids, which the north star names; this module
is that ordering over the engine's own (x, y) grid cells.

The classic iterative xy→d algorithm (Hamilton's / the Wikipedia
public-domain form) is a fixed per-bit loop of integer compares,
rotations and reflections — so for a fixed ``order`` it UNROLLS into a
chain of CASE/arithmetic step expressions in the dialect-shared SQL
subset: ``apply_steps`` folds the identical text into Spark
whole-stage-codegen columns and ``steps_sql`` nests it into the DuckDB
oracle. No UDF, no shuffle; computing the key is a projection.

Layout use: ``df.repartitionByRange(hilbert_d).sortWithinPartitions``
— same shape as zorder_repartition, better adjacency.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["apply_steps", "hilbert_steps", "hilbert_xy2d_ref", "steps_sql"]


def apply_steps(df: DataFrame, steps: list[tuple[str, str]]) -> DataFrame:
    """Fold the step expressions onto ``df`` as JVM columns (Spark side).
    Each step may reference every earlier one; Catalyst inlines the
    chain into one whole-stage-codegen projection."""
    return reduce(lambda d, s: d.withColumn(s[0], F.expr(s[1])), steps, df)


def steps_sql(inner: str, steps: list[tuple[str, str]]) -> str:
    """The SAME step expressions as nested SELECTs over ``inner`` (the
    DuckDB oracle side) — identical expression text, so results are
    bit-exact by construction, not by luck."""
    sql = inner
    for name, expr in steps:
        sql = f"SELECT t.*, {expr} AS {name} FROM ({sql}) t"
    return sql


def hilbert_steps(order: int, x: str = "hx", y: str = "hy",
                  ) -> list[tuple[str, str]]:
    """Step chain computing ``hd`` = Hilbert index of (x, y) on the
    2^order × 2^order grid. Inputs consumed as columns ``x``/``y``;
    intermediate columns are h_x0/h_y0/... per level."""
    steps: list[tuple[str, str]] = [
        ("h_x0", x), ("h_y0", y), ("h_d0", "cast(0 as bigint)")]
    lvl = 0
    for i in range(order - 1, -1, -1):
        s = 1 << i
        xp, yp, dp = f"h_x{lvl}", f"h_y{lvl}", f"h_d{lvl}"
        rx, ry = f"h_rx{lvl}", f"h_ry{lvl}"
        steps.append((rx, f"CASE WHEN ({xp} & {s}) > 0 THEN 1 "
                          "ELSE 0 END"))
        steps.append((ry, f"CASE WHEN ({yp} & {s}) > 0 THEN 1 "
                          "ELSE 0 END"))
        # (3*rx) XOR ry spelled portably: a + b - 2*(a & b)
        steps.append((f"h_d{lvl + 1}",
                      f"{dp} + cast({s} as bigint) * {s} * "
                      f"((3 * {rx} + {ry}) - 2 * ((3 * {rx}) & {ry}))"))
        # rotation: if ry = 0 then (if rx = 1 reflect both) swap x/y
        steps.append((f"h_x{lvl + 1}",
                      f"CASE WHEN {ry} = 1 THEN {xp} "
                      f"WHEN {rx} = 1 THEN {s} - 1 - {yp} "
                      f"ELSE {yp} END"))
        steps.append((f"h_y{lvl + 1}",
                      f"CASE WHEN {ry} = 1 THEN {yp} "
                      f"WHEN {rx} = 1 THEN {s} - 1 - {xp} "
                      f"ELSE {xp} END"))
        lvl += 1
    steps.append(("hd", f"h_d{lvl}"))
    return steps


def hilbert_xy2d_ref(order: int, x: int, y: int) -> int:
    """Independent reference (the classic imperative form) for tests."""
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d
