"""Physical-plan audits — the 100-TB checklist (SURVEY.md §4):
filters reach the parquet scan, small sides broadcast, the fact side of the
spatial join never shuffles, hot paths stay inside WholeStageCodegen."""

import os
import re

import pytest
from pyspark.sql import functions as F

from imagery_utils_spark.operators import spatial_join as sj
from imagery_utils_spark.plans import mosaic_query as MQ
from imagery_utils_spark.sources.tables import load


def plan_of(df) -> str:
    spark = df.sparkSession
    return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40).select("l_orderkey")
    plan = plan_of(li)
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]
    # column pruning: scan schema carries only the two needed columns
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" not in read_schema


def test_spatial_join_no_fact_shuffle(spark, sf_dir):
    pts = MQ.geocoded_pages(spark, sf_dir)
    rects = spark.createDataFrame(
        [("r1", -10.0, -10.0, 10.0, 10.0)],
        "rect_id string, xmin double, ymin double, xmax double, ymax double",
    )
    joined = sj.points_in_rects(pts, rects, res=6)
    plan = plan_of(joined)
    assert "BroadcastHashJoin" in plan
    # the only Exchange must be the broadcast one — no shuffle of the pages
    shuffle_exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert not shuffle_exchanges, shuffle_exchanges


def test_flagship_has_codegen_and_single_shuffle(spark, sf_dir):
    df = MQ.ranked_assignments(spark, sf_dir)
    df.collect()  # finalize this DataFrame's own AQE plan
    plan = plan_of(df)
    assert "codegen id" in plan  # whole-stage codegen spans present
    # the only shuffle key is the rank's partition-by-tile exchange (the AQE
    # formatted output lists the same exchange in initial + final sections)
    shuffles = [l for l in plan.splitlines()
                if "hashpartitioning(" in l and "Arguments" in l]
    assert shuffles, "expected the rank shuffle"
    assert all("tile_name" in s for s in shuffles), shuffles


def test_flagship_no_python_udf_in_hot_path(spark, sf_dir):
    # geocode is JVM column slicing: no BatchEvalPython / ArrowEval
    plan = plan_of(MQ.ranked_assignments(spark, sf_dir))
    assert "EvalPython" not in plan and "ArrowEval" not in plan


def test_exact_refine_prunes_candidates(spark):
    # cover join produces candidates; envelope refine must remove the corner
    # cell false positives (filter-and-refine correctness at plan level)
    # res-6 cells are 5.625 x 2.8125 deg: (2.0, 2.0) shares the rect's cell
    # but lies outside the rect
    pts = spark.createDataFrame([("in", 0.5, 0.5), ("near", 2.0, 2.0)],
                                "pid string, lon double, lat double")
    rects = spark.createDataFrame([("r", 0.0, 0.0, 1.0, 1.0)],
                                  "rect_id string, xmin double, ymin double, "
                                  "xmax double, ymax double")
    with_refine = sj.points_in_rects(pts, rects, res=6, refine=True)
    without = sj.points_in_rects(pts, rects, res=6, refine=False)
    assert {r.pid for r in with_refine.collect()} == {"in"}
    assert {r.pid for r in without.collect()} == {"in", "near"}  # same cell at res 6


def test_density_raster_single_shuffle(spark, sf_dir, tmp_path):
    """tile_density_rasters (r3) claims 'one shuffle then the grouped
    encode': the only hash exchanges allowed are the (tile, pixel) aggregate
    and the groupBy(tile) feeding applyInPandas — both keyed on tile_name —
    and the pages scan itself is never re-partitioned on a non-tile key."""
    man = MQ.tile_density_rasters(spark, sf_dir, str(tmp_path), width=8, height=8)
    plan = plan_of(man)
    shuffles = [l for l in plan.splitlines()
                if "hashpartitioning(" in l and "Arguments" in l]
    assert shuffles, "expected the aggregate/group shuffles"
    assert all("tile_name" in s for s in shuffles), shuffles


def test_calib_factors_broadcast_dim_no_fact_shuffle(spark, sf_dir):
    """C6 column form: the 72-row constant dim broadcasts; the scene stream
    never hash-shuffles (the only exchanges are the broadcast and the
    battery row's final orderBy range exchange); factor arithmetic is pure
    JVM (no Python eval)."""
    import __spark_entry__ as E

    df = E._raw_queries()["calib_factors"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_intersect_extent_broadcasts_small_side(spark, sf_dir):
    import __spark_entry__ as E

    df = E._raw_queries()["intersect_extent"](spark, sf_dir)
    plan = plan_of(df)
    # range-predicate theta join against the broadcast 32-row grid
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_xml_meta_is_pure_jvm(spark, sf_dir):
    import __spark_entry__ as E

    plan = plan_of(E._raw_queries()["xml_meta"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_gopher_scan_prunes_to_needed_columns(spark, sf_dir):
    from imagery_utils_spark.functions.quality import gopher_quality
    docs = load(spark, sf_dir, "documents")
    # materialize=False: the r6 staged-text checkpoint replaces the scan
    # with an ExistingRDD in the final plan; the unmaterialized plan is
    # the one whose scan pruning the checkpoint job inherits (identical
    # projection)
    plan = plan_of(gopher_quality(docs, materialize=False))
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "text" in read_schema and "lang" not in read_schema


def test_decontam_broadcasts_bench_and_prunes(spark, sf_dir):
    from imagery_utils_spark.operators.decontam import contamination_flags
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 41 == 0)
    plan = plan_of(contamination_flags(docs, bench, n=13))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_det_sample_is_pure_pushed_filter(spark, sf_dir):
    from imagery_utils_spark.operators.sampling import deterministic_sample
    docs = load(spark, sf_dir, "documents").select("doc_id")
    plan = plan_of(deterministic_sample(docs, 0.2, F.col("doc_id")))
    assert "Exchange" not in plan
    assert "codegen id" in plan


def test_pack_has_no_single_partition_global_window(spark, sf_dir):
    from imagery_utils_spark.operators.pack import pack_sequences
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plan = plan_of(pack_sequences(docs, 512))
    # the window must be partitioned by _pid, never a global (empty
    # partition-spec) window that funnels the corpus into one task
    for line in plan.splitlines():
        if "Window" in line and "Arguments" in line:
            assert "_pid" in line, line
    assert "rangepartitioning" in plan


def test_pii_single_projection_no_shuffle(spark, sf_dir):
    from imagery_utils_spark.functions.pii import pii_report
    docs = load(spark, sf_dir, "documents")
    plan = plan_of(pii_report(docs))
    assert "Exchange" not in plan


def test_bm25_scoring_scan_is_explode_free(spark, sf_dir):
    # r6: per-doc stats are built once (explode_outer + hash agg, one
    # codegen pass) and checkpointed; the SCORING plan reads that tiny
    # (doc_id, dl, tf...) table — no Generate, no re-tokenize, corpus
    # stats arrive by broadcast, top-k via TakeOrdered not a full sort
    from imagery_utils_spark.functions.text import tokens_col
    from imagery_utils_spark.operators.search import bm25_topk
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plan = plan_of(bm25_topk(docs, ["merge", "stream"], k=10))
    tokenize = re.compile(r"split\(lower\(text#\d+\), \\s\+, -1\)")
    assert tokenize.search(plan_of(docs.select(tokens_col(F.lower("text")))))
    assert "Generate" not in plan
    assert not tokenize.search(plan)    # tokenize happened pre-checkpoint
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan      # top-k, not a full sort


def test_para_dedup_keep_first_is_partial_agg_not_window(spark, sf_dir):
    # keep-first must be a groupBy min (map-side combinable) — a window
    # rank over the paragraph key would serialize hot boilerplate keys
    from imagery_utils_spark.operators.paragraphs import dedup_paragraphs
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plan = plan_of(dedup_paragraphs(docs, chunk=10))
    assert "Window" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan


def test_pagerank_step_broadcasts_dangling_and_loop_truncates(spark):
    from pyspark.sql import functions as _F

    from imagery_utils_spark.operators.webgraph import (
        _pagerank_step, pagerank_int)
    edges = spark.createDataFrame(
        [(i % 7, (i * 3 + 1) % 8) for i in range(30)], "src long, dst long")
    e = edges.distinct()
    nodes = (e.select(_F.col("src").alias("node"))
             .union(e.select("dst")).distinct())
    deg = e.groupBy("src").agg(_F.count("*").alias("outdeg"))
    ranks = nodes.withColumn("rank", _F.lit(10 ** 11).cast("long"))
    step = _pagerank_step(nodes, ranks, e.join(deg, "src"), deg,
                          10 ** 10, 8)
    plan = plan_of(step)
    # the 1-row dangling aggregate joins in via broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # and the public loop truncates lineage: final frame is a
    # checkpoint scan, not a 2-iteration join tree
    final = plan_of(pagerank_int(edges, iters=2))
    assert "Scan ExistingRDD" in final and "Join" not in final


def test_html_meta_extraction_is_pure_jvm(spark, sf_dir):
    import __spark_entry__ as E
    plan = plan_of(E.queries()["html_meta"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan  # projection only


def test_lm_bits_vocab_is_broadcast_singleton(spark, sf_dir):
    from imagery_utils_spark.operators.lm import lm_bits_score
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plan = plan_of(lm_bits_score(docs))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_range_lookup_bucketed_is_hash_join(spark):
    # bucket_bits turns the band join into a hash equi-join on the
    # bucket — the nested loop must disappear from the plan
    from imagery_utils_spark.operators.rangejoin import range_lookup
    probes = spark.range(0, 1000).select(
        F.col("id").alias("pid"), (F.col("id") * 37 % 4096).alias("v"))
    ranges = spark.createDataFrame(
        [(i * 256, i * 256 + 255, f"t{i}") for i in range(16)],
        "lo long, hi long, tag string")
    plan_b = plan_of(range_lookup(probes, ranges, "v", bucket_bits=8))
    assert "BroadcastNestedLoopJoin" not in plan_b
    # an EQUI-join on the bucket (hash or sort-merge per stats), never
    # a nested loop over the fact side
    assert "HashJoin" in plan_b or "SortMergeJoin" in plan_b
    plan_n = plan_of(range_lookup(probes, ranges, "v"))
    assert "BroadcastNestedLoopJoin" in plan_n


def test_skyline_windows_are_bucket_partitioned_on_full_data(spark, sf_dir):
    """The full-data pass of skyline2d must window per hash bucket;
    only the candidate-sized global pass may be single-partition."""
    from imagery_utils_spark.operators.skyline import skyline2d
    li = load(spark, sf_dir, "lineitem")
    sky = skyline2d(li, F.col("l_extendedprice"), F.col("l_quantity"))
    plan = plan_of(sky)
    # two Window nodes: the local one partitioned by _b, the global one
    # by the constant (fed only by the local frontiers)
    assert plan.count("Window") >= 2
    assert "_b" in plan
    # the x-collapse before the local window is a partial aggregation
    assert "partial_max" in plan or "partial_" in plan


def test_stratified_boundary_window_sees_only_boundary_bucket(spark, sf_dir):
    """The row_number window input must be filtered to _bkt == _bstar
    (the n/2^B sliver), never the whole stratum."""
    from imagery_utils_spark.operators.selection import (
        stratified_sample_exact)
    docs = load(spark, sf_dir, "documents").select("lang", "doc_id")
    kept = stratified_sample_exact(docs, "lang", F.col("doc_id"))
    plan = optimized_of(kept)
    # optimized plan: the Window branch carries the boundary equality
    # filter below it
    win_at = plan.index("Window")
    below = plan[win_at:]
    assert "(_bkt" in below and "_bstar" in below
    # and the histogram feeding the driver was a partial count agg
    assert "BroadcastHashJoin" in plan_of(kept)


def test_hillshade_gather_is_single_shuffle_no_python(spark, sf_dir):
    import __spark_entry__ as entry
    df = entry.queries()["hillshade_stencil"](spark, sf_dir)
    body = df._jdf.queryExecution().executedPlan().toString()
    # one gather exchange (plus the final orderBy's range exchange)
    assert body.count("Exchange hashpartitioning") == 1
    assert body.count("Exchange rangepartitioning") == 1
    assert "PythonUDF" not in body


def test_temporal_join_is_asof_window_not_interval_join(spark, sf_dir):
    import __spark_entry__ as E

    df = E.queries()["temporal_join"](spark, sf_dir)
    plan = plan_of(df)
    # r6: the broadcast BETWEEN interval join (O(n^2/keys) probe work
    # on low-cardinality keys) became a union + ordered-window as-of
    # pass — no join of any kind remains in the plan
    assert "Join" not in plan
    assert "Window" in plan and "Union" in plan


def test_interval_overlap_is_hash_join_not_cartesian(spark, sf_dir):
    import __spark_entry__ as E

    df = E.queries()["interval_overlap"](spark, sf_dir)
    plan = plan_of(df)
    # banding turns the theta join into an equi join on _band
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_feature_hash_has_partial_aggregation(spark, sf_dir):
    import __spark_entry__ as E
    from imagery_utils_spark.operators.features import feature_hash

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plan = plan_of(feature_hash(docs))
    # map-side combine before the (doc,bucket) shuffle
    assert "partial" in plan.lower()
    assert "BatchEvalPython" not in plan  # zero Python in the hot path


def test_salted_agg_two_phase_shuffles(spark, sf_dir):
    import __spark_entry__ as E

    df = E.queries()["salted_agg"](spark, sf_dir)
    plan = plan_of(df)
    shuffles = [l for l in plan.splitlines()
                if "Arguments" in l and "hashpartitioning(" in l]
    # phase 1 shuffles on (source, _salt); phase 2 on source alone
    assert any("_salt" in s for s in shuffles), shuffles
    assert any("_salt" not in s and "source" in s for s in shuffles), \
        shuffles


def test_geokeys_are_pure_jvm_projections(spark, sf_dir):
    """geohash/slippy/quadkey must stay in whole-stage codegen: no
    Python eval, no shuffle before the rollup's single exchange."""
    from pyspark.sql import functions as F

    import imagery_utils_spark.plans.mosaic_query as MQ
    from imagery_utils_spark.operators.geokeys import (
        geohash_col, quadkey_col, slippy_cols)

    pts = MQ.geocoded_pages(spark, sf_dir)
    xt, yt = slippy_cols(F.col("lon"), F.col("lat"), 6)
    df = pts.select(geohash_col(F.col("lon"), F.col("lat"), 8)
                    .alias("gh"), xt.alias("x"), yt.alias("y"))
    df = df.withColumn("qk", quadkey_col(F.col("x"), F.col("y"), 6))
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan
    # formatted mode marks codegen stages with '*'
    assert "* Project" in plan
