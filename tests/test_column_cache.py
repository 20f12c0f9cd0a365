"""Column trees built once per JVM (``imagery_utils_spark._column_cache``):
a warm flagship build sends few py4j commands, plans like a cold one, and
frames sharing cached Columns join and union like frames built afresh."""

import re

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from imagery_utils_spark import _column_cache
from imagery_utils_spark.plans import mosaic_query as MQ
from imagery_utils_spark.sources import pages as P


@pytest.fixture()
def pages(spark, sf_dir):
    return P.synthesize_pages(spark, sf_dir)


@pytest.fixture()
def cold(monkeypatch):
    """Call ``cold()`` to empty the cache, so the next build makes fresh Columns."""
    return lambda: monkeypatch.setattr(_column_cache, "_trees", {})


def py4j_commands(spark, monkeypatch, build):
    """Commands ``build()`` sends to the JVM, not counting py4j's ``m``
    messages (garbage collection of Python-side references)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    build()
    monkeypatch.setattr(client, "send_command", send)
    return len(sent)


def optimized(df) -> str:
    return re.sub(r"#\d+L?", "#N", df._jdf.queryExecution().optimizedPlan().toString())


def test_warm_flagship_build_sends_few_commands(spark, pages, monkeypatch):
    MQ.ranked_from_pages(pages)
    # about 1,460 when every build makes its Column trees again
    assert py4j_commands(spark, monkeypatch, lambda: MQ.ranked_from_pages(pages)) <= 200


def test_cold_and_warm_builds_plan_alike(pages, cold):
    cold()
    first = MQ.ranked_from_pages(pages)
    second = MQ.ranked_from_pages(pages)
    assert optimized(first) == optimized(second)
    assert sorted(first.collect()) == sorted(second.collect())


def joined_and_union(a, b):
    joined = a.alias("a").join(b.alias("b"), "doc_id").select(
        "doc_id", F.col("a.score").alias("score_a"), F.col("b.tile_name").alias("tile_b"),
        F.col("b.lat").alias("lat_b"))
    union = a.select("doc_id", "tile_name", "score").union(b.select("doc_id", "tile_name", "score"))
    return sorted(joined.collect()), sorted(union.collect())


def test_shared_columns_join_and_union_like_fresh_ones(pages, cold):
    evens = pages.filter(F.col("doc_id") % 2 == 0)
    shared = joined_and_union(MQ.scored_pages(evens), MQ.scored_pages(pages))
    cold()
    a = MQ.scored_pages(evens)
    cold()
    fresh = joined_and_union(a, MQ.scored_pages(pages))
    assert shared == fresh
    assert shared[0] and len(shared[1]) > len(shared[0])


def test_new_gateway_rebuilds_the_trees(spark, pages, monkeypatch):
    first = P._latlon_cols()
    assert P._latlon_cols() is first
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "_gateway", object())
        relaunched = P._latlon_cols()
    assert relaunched is not first
    again = P._latlon_cols()  # the real gateway is new to the cache once more
    assert again is not relaunched and P._latlon_cols() is again
    rows = P.geocode(pages).select("doc_id", "lat", "lon").collect()
    assert rows and all(r.lat is not None for r in rows)
