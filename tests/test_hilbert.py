"""Hilbert index: bijectivity vs the independent reference over full
grids, the every-step-adjacent property Morton lacks, shared-text
evaluation via DuckDB."""

import duckdb

from imagery_utils_spark.operators.hilbert import (
    hilbert_steps, hilbert_xy2d_ref, steps_sql)


def _duck_eval(order):
    n = 1 << order
    inner = (f"SELECT (range % {n}) AS hx, (range // {n}) AS hy "
             f"FROM range({n * n})")
    sql = steps_sql(inner, hilbert_steps(order))
    return duckdb.sql(
        f"SELECT hx, hy, hd FROM ({sql}) q ORDER BY hy, hx").fetchall()


def test_matches_reference_and_bijective_order4():
    rows = _duck_eval(4)
    seen = set()
    for x, y, d in rows:
        assert d == hilbert_xy2d_ref(4, x, y), (x, y)
        seen.add(d)
    assert seen == set(range(256))


def test_every_consecutive_step_is_grid_adjacent():
    # THE Hilbert property: walking d = 0..n^2-1 moves one cell each
    # step (Morton teleports at quadrant seams)
    rows = _duck_eval(5)
    by_d = {d: (x, y) for x, y, d in rows}
    for d in range(1, 1024):
        (x0, y0), (x1, y1) = by_d[d - 1], by_d[d]
        assert abs(x1 - x0) + abs(y1 - y0) == 1, d


def test_order8_spot_values():
    # corners + a few interior cells at the battery's order
    for x, y in [(0, 0), (255, 0), (0, 255), (255, 255), (37, 201),
                 (128, 128)]:
        inner = f"SELECT {x} AS hx, {y} AS hy"
        sql = steps_sql(inner, hilbert_steps(8))
        (d,) = duckdb.sql(f"SELECT hd FROM ({sql}) q").fetchone()
        assert d == hilbert_xy2d_ref(8, x, y)
