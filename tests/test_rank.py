"""skew_rank must agree exactly with the plain window row_number."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from imagery_utils_spark.operators.rank import skew_rank


def test_skew_rank_matches_plain_window(spark):
    # skewed groups incl. heavy ties across bucket boundaries
    rows = []
    for i in range(4000):
        rows.append(("hot", float((i * 7) % 50) / 3.0, i))
    for i in range(40):
        rows.append(("cold", float(i % 5), 10_000 + i))
    df = spark.createDataFrame(rows, "grp string, score double, id long")

    w = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("id"))
    plain = df.withColumn("r", F.row_number().over(w))
    skew = skew_rank(df, "grp", [F.desc("score"), F.asc("id")],
                     F.floor(F.col("score")), out="r")
    a = {(r.grp, r.id): r.r for r in plain.collect()}
    b = {(r.grp, r.id): r.r for r in skew.collect()}
    assert a == b


def test_rank_auto_gates_on_estimate(spark):
    """rank_auto: plain window without an estimate or under threshold;
    two-phase only when the caller's estimate exceeds the threshold — and
    both produce identical ranks (VERDICT r2 ask #6)."""
    from imagery_utils_spark.operators.rank import rank_auto

    rows = [("g", float((i * 7) % 50), i) for i in range(500)]
    df = spark.createDataFrame(rows, "grp string, score double, id long")
    order = [F.desc("score"), F.asc("id")]
    bucket = F.floor(F.col("score"))

    plain = rank_auto(df, "grp", order, bucket, out="r")
    gated = rank_auto(df, "grp", order, bucket, out="r",
                      max_group_rows=10, threshold=100)  # under -> plain
    forced = rank_auto(df, "grp", order, bucket, out="r",
                       max_group_rows=1000, threshold=100)  # over -> skew
    a = {r.id: r.r for r in plain.collect()}
    assert {r.id: r.r for r in gated.collect()} == a
    assert {r.id: r.r for r in forced.collect()} == a
