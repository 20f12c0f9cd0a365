import os
import types

import pytest
from pyspark.sql import functions as F

from imagery_utils_spark.operators import compose as CP
from imagery_utils_spark.operators.lineage import LineageStore, resumable_stage
from imagery_utils_spark.streaming import events as STR


# --------------------------------------------------------------- compose


def test_last_writer_wins(spark):
    rows = [
        ("t1", 5, "a", 10.0), ("t1", 5, "b", 90.0), ("t1", 6, "a", 10.0),
        ("t2", 5, "c", 50.0),
    ]
    df = spark.createDataFrame(rows, "tile string, cell int, scene string, score double")
    out = CP.composite(df, ["tile", "cell"], [F.desc("score"), F.asc("scene")])
    got = {(r.tile, r.cell): r.scene for r in out.collect()}
    assert got == {("t1", 5): "b", ("t1", 6): "a", ("t2", 5): "c"}


def test_parent_cell_col_matches_numpy(spark):
    import numpy as np
    from imagery_utils_spark.core import cells

    rng = np.random.default_rng(11)
    lon = rng.uniform(-180, 180, 100)
    lat = rng.uniform(-90, 90, 100)
    base = cells.lonlat_to_linear(lon, lat, 8)
    df = spark.createDataFrame([(int(c),) for c in base], "cell long")
    got = [r.p for r in df.select(CP.parent_cell_col(F.col("cell"), 8, 3).alias("p")).collect()]
    exp = list(cells.linear_parent(base, 8, 3))
    assert got == exp
    # SQL form agrees
    df.createOrReplaceTempView("cells_t")
    got_sql = [r.p for r in spark.sql(
        f"select {CP.parent_cell_sql('cell', 8, 3)} as p from cells_t").collect()]
    assert got_sql == exp


def test_pyramid_rollup(spark):
    df = spark.createDataFrame([(i,) for i in range(256)], "cell long")
    out = CP.pyramid_rollup(df.withColumn("v", F.lit(1)), "cell", 4,
                            levels=[3, 2], aggs=[F.count("*").alias("n")])
    rows = out.collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r.level_res, []).append(r.n)
    assert sum(by_level[3]) == 256 and len(by_level[3]) == 64
    assert sum(by_level[2]) == 256 and len(by_level[2]) == 16


def test_band_stats_exact_median(spark):
    df = spark.createDataFrame(
        [(1, float(v)) for v in [1, 2, 3, 4, 100]] + [(2, None)],
        "band int, value double",
    )
    out = {r.band: r for r in CP.band_stats(df, ["band"], "value").collect()}
    assert out[1].median == 3.0 and out[1].datapixelcount == 5
    assert 2 not in out  # all-null group dropped


# --------------------------------------------------------------- lineage


def test_resumable_stage(spark, tmp_path):
    store = LineageStore(spark, str(tmp_path / "ice"))
    units = spark.createDataFrame([("u1",), ("u2",), ("u3",)], "unit string")

    processed = []

    def process(todo):
        got = sorted(r.unit for r in todo.collect())
        processed.append(got)
        return spark.createDataFrame([(u, u.upper()) for u in got], "unit string, out string")

    r1 = resumable_stage(store, "stage_a", units, "unit", process)
    assert processed[-1] == ["u1", "u2", "u3"]
    assert r1.count() == 3
    # run again: everything committed -> nothing to do
    resumable_stage(store, "stage_a", units, "unit", process)
    assert processed[-1] == []
    # new unit appears -> only it is processed
    units2 = spark.createDataFrame([("u1",), ("u4",)], "unit string")
    resumable_stage(store, "stage_a", units2, "unit", process)
    assert processed[-1] == ["u4"]
    # a different stage starts fresh
    resumable_stage(store, "stage_b", units, "unit", process)
    assert processed[-1] == ["u1", "u2", "u3"]
    stats = store.runtime_stats().collect()
    assert any(r.stage == "stage_a" for r in stats)


def test_commit_units_same_run_same_millisecond(spark, tmp_path, monkeypatch):
    # two commits with one run_id inside one (frozen) millisecond must both
    # stay visible: neither may overwrite the other's file
    from imagery_utils_spark.operators import lineage as LN

    monkeypatch.setattr(LN, "time", types.SimpleNamespace(time=lambda: 1_700_000_000.0))
    store = LineageStore(spark, str(tmp_path / "ice"))
    store.commit_units("stage_a", [("u1", 3)], run_id="r1")
    store.commit_units("stage_a", [("u2", 5)], run_id="r1")
    done = sorted((r.unit_id, r.n_rows) for r in store.completed_units("stage_a").collect())
    assert done == [("u1", 3), ("u2", 5)]
    assert not [f for f in os.listdir(store.lineage_path) if f.endswith(".inprogress")]


def _units_of(df, col):
    return sorted(r[col] for r in df.collect())


def test_torn_commit_file_is_ignored(spark, tmp_path):
    # a crash inside commit_units leaves half of its temp file behind; no
    # reader may see its unit, alone or next to a finished commit
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    store = LineageStore(spark, str(tmp_path / "ice"))
    units = spark.createDataFrame([("u1",), ("u2",), ("u9",)], "unit string")
    buf = io.BytesIO()
    pq.write_table(pa.table({
        "unit_id": ["u9"], "stage": ["stage_a"], "run_id": ["r0"],
        "committed_at": [1.0], "n_rows": pa.array([1], pa.int64())}), buf)
    os.makedirs(store.lineage_path)
    torn = os.path.join(store.lineage_path, ".commit-1000-r0-0.inprogress")
    with open(torn, "wb") as f:
        f.write(buf.getvalue()[:len(buf.getvalue()) // 2])

    assert _units_of(store.completed_units("stage_a"), "unit_id") == []
    assert _units_of(store.remaining_units(units, "stage_a", "unit"), "unit") == ["u1", "u2", "u9"]
    store.commit_units("stage_a", [("u1", 1)])
    assert _units_of(store.completed_units("stage_a"), "unit_id") == ["u1"]
    assert _units_of(store.remaining_units(units, "stage_a", "unit"), "unit") == ["u2", "u9"]
    assert os.path.exists(torn)


def test_resumable_stage_crash_after_output_write(spark, tmp_path):
    # a crash between the output write and the lineage commit: the units are
    # processed again (at least once) but committed exactly once
    store = LineageStore(spark, str(tmp_path / "ice"))
    out = str(tmp_path / "out")
    units = spark.createDataFrame([("u1",), ("u2",), ("u3",)], "unit string")
    processed = []

    def process(todo, crash=False):
        got = _units_of(todo, "unit")
        processed.append(got)
        result = spark.createDataFrame([(u, u.upper()) for u in got], "unit string, out string")
        result.write.mode("append").parquet(out)
        if crash:
            raise RuntimeError("crash before commit")
        return result

    with pytest.raises(RuntimeError, match="crash before commit"):
        resumable_stage(store, "stage_a", units, "unit", lambda t: process(t, crash=True))
    assert _units_of(store.completed_units("stage_a"), "unit_id") == []
    assert _units_of(store.remaining_units(units, "stage_a", "unit"), "unit") == ["u1", "u2", "u3"]

    resumable_stage(store, "stage_a", units, "unit", process)
    resumable_stage(store, "stage_a", units, "unit", process)
    assert processed == [["u1", "u2", "u3"], ["u1", "u2", "u3"], []]
    assert _units_of(store.completed_units("stage_a"), "unit_id") == ["u1", "u2", "u3"]
    assert _units_of(spark.read.parquet(out), "unit") == ["u1", "u1", "u2", "u2", "u3", "u3"]


# --------------------------------------------------------------- streaming


def test_stream_matches_batch(spark, sf_dir, tmp_path):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    src = str(tmp_path / "events_src")
    ev.repartition(4).write.parquet(src)

    batch = STR.windowed_counts(spark.read.schema(STR.EVENT_SCHEMA).parquet(src))
    stream = STR.run_stream_to_memory(spark, src, "win_counts_test")

    b = sorted([tuple(r) for r in batch.collect()])
    s = sorted([tuple(r) for r in stream.collect()])
    assert len(b) > 0
    assert b == s


def test_sessionize(spark):
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 0, 0)), (1, datetime(2024, 1, 1, 0, 10)),
        (1, datetime(2024, 1, 1, 2, 0)), (2, datetime(2024, 1, 1, 0, 0)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = STR.sessionize(df, gap_minutes=30).collect()
    by_user = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.ts)):
        by_user.setdefault(r.user_id, []).append(r.session_id)
    assert by_user[1] == [1, 1, 2]
    assert by_user[2] == [1]


def test_pages_stream_matches_batch(spark, sf_dir, tmp_path):
    from imagery_utils_spark.sources.pages import synthesize_pages

    src = str(tmp_path / "pages_src")
    synthesize_pages(spark, sf_dir).repartition(3).write.parquet(src)
    stream = STR.run_pages_stream_to_memory(spark, src, "pages_tiles_test")
    # batch equivalent over the same files
    from imagery_utils_spark.operators.tile_grid import tile_assign_cols
    from imagery_utils_spark.sources.pages import geocode

    batch = (
        geocode(spark.read.parquet(src))
        .select(tile_assign_cols(F.col("lon"), F.col("lat"),
                                 -180.0, -90.0, 180.0, 90.0, 10.0, 10.0, "world")[2])
        .groupBy("tile_name").agg(F.count("*").alias("n_pages"))
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_running_champion_stateful_multi_batch(spark, tmp_path):
    """applyInPandasWithState running-argmax: real multi-batch state
    transitions (one file per trigger), change-only emission, and a final
    fixed point equal to the batch argmax regardless of batch boundaries."""
    from imagery_utils_spark.streaming.stateful import run_champion_stream_to_memory

    schema = "tile string, scene long, score double"
    src = tmp_path / "champ_src"
    # batch 1: t1 champion 10 (score 5.0), t2 champion 20 (3.0)
    spark.createDataFrame(
        [("t1", 10, 5.0), ("t1", 11, 4.0), ("t2", 20, 3.0)], schema
    ).coalesce(1).write.parquet(str(src / "b=1"))
    # batch 2: t1 beaten by 12 (6.0); t2 tie at 3.0 with LOWER id 19 -> wins;
    # t3 appears
    spark.createDataFrame(
        [("t1", 12, 6.0), ("t2", 19, 3.0), ("t3", 30, 1.0)], schema
    ).coalesce(1).write.parquet(str(src / "b=2"))

    out = run_champion_stream_to_memory(
        spark, str(src), "tile string, scene long, score double, b int",
        "champ_emissions", key_col="tile", id_col="scene", score_col="score",
        max_files=1,
    ).collect()

    emissions = {}
    for r in out:
        emissions.setdefault(r["key"], []).append(
            (r["champion_id"], r["score"], r["n_challengers"]))
    # t1: initial champion then the batch-2 upset -> exactly 2 emissions
    assert [e[:2] for e in emissions["t1"]] == [(10, 5.0), (12, 6.0)]
    assert emissions["t1"][-1][2] == 3  # challengers seen across batches
    # t2: tie replaced by lower id -> 2 emissions
    assert [e[:2] for e in emissions["t2"]] == [(20, 3.0), (19, 3.0)]
    # t3: single appearance
    assert [e[:2] for e in emissions["t3"]] == [(30, 1.0)]

    # final fixed point == batch argmax with the same total order
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    batch = spark.read.parquet(str(src / "b=1"), str(src / "b=2"))
    w = Window.partitionBy("tile").orderBy(F.desc("score"), F.asc("scene"))
    expect = {r["tile"]: (r["scene"], r["score"]) for r in
              batch.withColumn("rn", F.row_number().over(w))
              .filter("rn = 1").collect()}
    final = {k: v[-1][:2] for k, v in emissions.items()}
    assert final == expect


def test_running_champion_unchanged_batch_emits_nothing(spark, tmp_path):
    from imagery_utils_spark.streaming.stateful import run_champion_stream_to_memory

    schema = "tile string, scene long, score double"
    src = tmp_path / "champ_src2"
    spark.createDataFrame([("t1", 10, 5.0)], schema).coalesce(1).write.parquet(
        str(src / "b=1"))
    spark.createDataFrame([("t1", 11, 4.0)], schema).coalesce(1).write.parquet(
        str(src / "b=2"))  # loses -> no second emission
    out = run_champion_stream_to_memory(
        spark, str(src), "tile string, scene long, score double, b int",
        "champ_emissions2", key_col="tile", id_col="scene", score_col="score",
        max_files=1,
    ).collect()
    assert [(r["champion_id"], r["score"]) for r in out] == [(10, 5.0)]


def test_stream_exact_dedup_cross_batch(spark, tmp_path):
    """Batch 2 replays 3 of batch 1's rows and adds 1 new one: the stream
    must drop exactly the replays via cross-batch keyed state; a late
    duplicate of an expired key (older than the watermark horizon behind
    max event time) documents the eviction contract."""
    import datetime as dt

    base = str(tmp_path / "sd")
    t0 = dt.datetime(2024, 1, 1)
    rows1 = [(1, "a", t0, 1.0), (2, "b", t0 + dt.timedelta(hours=1), 2.0),
             (3, "a", t0 + dt.timedelta(hours=2), 3.0)]
    rows2 = rows1 + [(4, "c", t0 + dt.timedelta(hours=3), 4.0)]
    schema = "user_id long, event_type string, ts timestamp, value double"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(base + "/b=1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(base + "/b=2")
    got = STR.run_dedup_stream_to_memory(
        spark, base, schema + ", b int", "sd_test",
        key_cols=["user_id", "event_type", "ts", "value"],
        watermark="2 days", max_files=1)
    vals = sorted((r.user_id, r.value) for r in got.collect())
    assert vals == [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]
    # batch formulation: same function, plain dropDuplicates
    b = STR.stream_exact_dedup(
        spark.createDataFrame(rows1 + rows2, schema),
        ["user_id", "event_type", "ts", "value"])
    assert b.count() == 4


def test_streaming_domain_quota_eviction(spark, tmp_path):
    """Late arrivals with smaller ids EVICT earlier members: the fixed
    point equals the batch window row_number <= k, independent of how
    the stream was split into micro-batches."""
    import uuid

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from imagery_utils_spark.streaming.stateful import (
        run_quota_stream_to_memory)

    rows = ([(i, "A") for i in range(0, 20, 2)]           # batch 1: evens
            + [(i, "B") for i in (10, 12)])
    rows2 = ([(i, "A") for i in range(1, 10, 2)]          # batch 2: odds
             + [(3, "B")])
    base = str(tmp_path / "quota_src")
    spark.createDataFrame(rows, "doc_id long, domain string") \
        .coalesce(1).write.parquet(base + "/b=1")
    spark.createDataFrame(rows2, "doc_id long, domain string") \
        .coalesce(1).write.parquet(base + "/b=2")
    em = run_quota_stream_to_memory(
        spark, base, "doc_id long, domain string, b int",
        f"q_{uuid.uuid4().hex[:8]}", "domain", "doc_id", k=5)
    w = Window.partitionBy("domain").orderBy(F.desc("batch_seq"))
    fixed = (em.withColumn("_m", F.max("batch_seq").over(
        Window.partitionBy("domain")))
        .filter(F.col("batch_seq") == F.col("_m"))
        .select("domain", "doc_id", "rank"))
    got = {(r.domain, r.rank): r.doc_id for r in fixed.collect()}
    # A: evens filled 0,2,4,6,8 then odds 1,3 evict 6,8
    assert [got[("A", i)] for i in range(1, 6)] == [0, 1, 2, 3, 4]
    assert [got[("B", i)] for i in range(1, 4)] == [3, 10, 12]
