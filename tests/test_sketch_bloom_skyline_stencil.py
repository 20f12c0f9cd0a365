"""Unit + property tests for the round-5 batch: HyperLogLog registers,
bloom pre-join, distributed skyline, and the 3x3 stencil gather."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from imagery_utils_spark.operators.bloom import bloom_build, bloom_probe
from imagery_utils_spark.operators.sketch import (
    HLL_K, HLL_M, hll_estimate, hll_registers)
from imagery_utils_spark.operators.skyline import skyline2d
from imagery_utils_spark.operators.stencil import (
    horn_gradient_cols, stencil_gather)


# ------------------------------------------------------------- HLL

def test_hll_registers_idempotent_under_duplication(spark):
    """Feeding every value 3x yields bit-identical registers — the
    no-pre-distinct contract."""
    vals = [Row(g="a", v=f"tok{i}") for i in range(200)]
    df1 = spark.createDataFrame(vals)
    df3 = spark.createDataFrame(vals * 3).repartition(7)
    r1 = {(r.j, r.m) for r in
          hll_registers(df1, ["g"], F.col("v")).collect()}
    r3 = {(r.j, r.m) for r in
          hll_registers(df3, ["g"], F.col("v")).collect()}
    assert r1 == r3 and 0 < len(r1) <= HLL_M


def test_hll_estimate_tracks_cardinality(spark):
    """m=64 raw estimate lands within ~40% for n >> m (sanity, not a
    precision claim; the battery pins bit-exactness separately)."""
    df = spark.createDataFrame(
        [Row(g="a", v=f"value-{i}") for i in range(5000)])
    est = hll_estimate(
        hll_registers(df, ["g"], F.col("v")), ["g"]).collect()[0]
    assert 3000 < est.est_raw < 7000
    assert est.s_sum > 0 and est.n_regs == HLL_M


def test_hll_rho_max_bucket(spark):
    """rho never exceeds HLL_K and registers stay within [1, K]."""
    df = spark.createDataFrame([Row(g="x", v=str(i)) for i in range(3000)])
    regs = hll_registers(df, ["g"], F.col("v")).collect()
    assert all(1 <= r.m <= HLL_K for r in regs)


# ------------------------------------------------------------- bloom

def test_bloom_no_false_negatives_and_fp_pruned(spark):
    dim = spark.createDataFrame([Row(k=i) for i in range(0, 100, 3)])
    fact = spark.createDataFrame([Row(k=i, p=i * i) for i in range(100)])
    bloom = bloom_build(dim, F.col("k"), k=2, m_bits=512)
    cand = bloom_probe(fact, F.col("k"), bloom, k=2, m_bits=512)
    got = {r.k for r in cand.collect()}
    members = set(range(0, 100, 3))
    assert members <= got                      # no false negatives
    assert got <= set(range(100))
    # candidates carry original columns intact
    assert set(cand.columns) == {"k", "p"}


def test_bloom_word_table_is_broadcast_and_fact_unshuffled(spark):
    dim = spark.createDataFrame([Row(k=i) for i in range(50)])
    fact = spark.createDataFrame([Row(k=i) for i in range(500)])
    cand = bloom_probe(fact, F.col("k"),
                       bloom_build(dim, F.col("k")), k=2)
    txt = cand._jdf.queryExecution().executedPlan().toString()
    # both probes are broadcast hash joins; the only hash exchanges in
    # the whole plan are the two word-table builds (m_bits/32 rows each)
    # INSIDE the BroadcastExchange subtrees — the fact spine never
    # shuffles.
    assert txt.count("BroadcastHashJoin") == 2
    assert txt.count("BroadcastExchange") == 2
    assert txt.count("Exchange hashpartitioning") == 2
    for line in txt.splitlines():
        if "Exchange hashpartitioning" in line:
            assert line.lstrip(" :+-").startswith("Exchange") and \
                line.index("Exchange") > 6  # indented under a build side


def test_bloom_join_funnel_ignores_repeated_dim_keys(spark, sf_dir, tmp_path):
    """The bloom_join row on a fixture copy whose nation-7 customers each
    appear twice must equal the run on the original: the exact-check
    join is against the dim's distinct keys, so repeated keys cannot
    inflate n_fact, n_matched or matched_sha."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    for name in os.listdir(sf_dir):
        if name != "customer.parquet":
            os.symlink(os.path.join(sf_dir, name), tmp_path / name)
    cust = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
    dup = cust.filter(pc.equal(cust["c_nationkey"], 7))
    assert dup.num_rows > 0
    pq.write_table(pa.concat_tables([cust, dup]),
                   tmp_path / "customer.parquet")
    q = E.queries()["bloom_join"]
    assert q(spark, str(tmp_path)).collect() == q(spark, sf_dir).collect()


# ------------------------------------------------------------- skyline

def _brute_skyline(pts):
    out = set()
    for (x, y) in set(pts):
        dominated = any(
            sx <= x and sy >= y and (sx < x or sy > y)
            for (sx, sy) in set(pts))
        if not dominated:
            out.add((x, y))
    return out


@pytest.mark.parametrize("n_buckets", [1, 4, 32])
def test_skyline_matches_brute_force(spark, n_buckets):
    import random
    rng = random.Random(42)
    pts = [(rng.randint(0, 50), rng.randint(0, 50)) for _ in range(300)]
    pts += [(5, 45), (5, 45)]  # duplicate skyline candidate
    df = spark.createDataFrame([Row(a=x, b=y) for x, y in pts])
    got = {(r.x, r.ymax) for r in
           skyline2d(df, F.col("a"), F.col("b"),
                     n_buckets=n_buckets).collect()}
    assert got == _brute_skyline(pts)


def test_skyline_extremes(spark):
    """Under (min x, max y): y = x (anti-correlated trade-off) keeps
    every point; y = 100 - x (correlated) collapses to the single
    point (0, 100)."""
    anti = spark.createDataFrame([Row(a=i, b=i) for i in range(40)])
    assert skyline2d(anti, F.col("a"), F.col("b")).count() == 40
    corr = spark.createDataFrame([Row(a=i, b=100 - i) for i in range(40)])
    got = [(r.x, r.ymax) for r in
           skyline2d(corr, F.col("a"), F.col("b")).collect()]
    assert got == [(0, 100)]


# ------------------------------------------------------------- stencil

def test_stencil_routes_each_neighbor_correctly(spark):
    """5x5 grid with v = 10*y + x: the gathered window of (2,2) must be
    exactly the 3x3 block around it, each tag at its own offset."""
    rows = [Row(x=x, y=y, v=10 * y + x)
            for x in range(5) for y in range(5)]
    g = stencil_gather(spark.createDataFrame(rows),
                       F.col("x"), F.col("y"), F.col("v"))
    center = g.filter((F.col("x") == 2) & (F.col("y") == 2)).collect()[0]
    assert center.v_c == 22
    assert (center.v_nw, center.v_n, center.v_ne) == (11, 12, 13)
    assert (center.v_w, center.v_e) == (21, 23)
    assert (center.v_sw, center.v_s, center.v_se) == (31, 32, 33)
    # interior-only: 3x3 of a 5x5
    assert g.count() == 9


def test_stencil_single_shuffle(spark):
    rows = [Row(x=x, y=y, v=x + y) for x in range(6) for y in range(6)]
    g = stencil_gather(spark.createDataFrame(rows),
                       F.col("x"), F.col("y"), F.col("v"))
    txt = g._jdf.queryExecution().executedPlan().toString()
    n_shuffles = txt.count("Exchange hashpartitioning")
    assert n_shuffles == 1
    assert "PythonUDF" not in txt


def test_horn_gradient_flat_and_ramp(spark):
    # flat surface -> zero gradient; x-ramp -> dzdx = 8*slope, dzdy = 0
    for mk, want in [(lambda x, y: 7, (0, 0)),
                     (lambda x, y: 3 * x, (24, 0)),
                     (lambda x, y: 2 * y, (0, 16))]:
        rows = [Row(x=x, y=y, v=mk(x, y))
                for x in range(4) for y in range(4)]
        g = horn_gradient_cols(stencil_gather(
            spark.createDataFrame(rows),
            F.col("x"), F.col("y"), F.col("v")))
        r = g.collect()[0]
        assert (r.dzdx, r.dzdy) == want
        assert r.slope_q == want[0] ** 2 + want[1] ** 2


# ------------------------------------------------------------- k-means

def test_kmeans_partition_invariant(spark):
    """Identical assignments/centroid state at 1 vs 13 partitions —
    the fixed-point contract."""
    import random
    from imagery_utils_spark.operators.clustering import kmeans_fixed
    rng = random.Random(7)
    rows = [Row(vec_id=i, embedding=[rng.uniform(-0.5, 0.5)
                                     for _ in range(8)])
            for i in range(120)]
    outs = []
    for nparts in (1, 13):
        df = spark.createDataFrame(rows).repartition(nparts)
        asg = kmeans_fixed(df, F.col("embedding"), k=4, dim=8, iters=3)
        outs.append(sorted((r.vec_id, r.cid, r.d) for r in asg.collect()))
    assert outs[0] == outs[1]


def test_kmeans_separated_clusters_converge(spark):
    """Two well-separated blobs, k=2: every point lands with its blob
    and the assignment distance is small."""
    from imagery_utils_spark.operators.clustering import kmeans_fixed
    rows = []
    for i in range(40):
        base = 0.4 if i % 2 == 0 else -0.4
        rows.append(Row(vec_id=i,
                        embedding=[base + (i % 5) * 1e-3] * 4))
    df = spark.createDataFrame(rows)
    asg = kmeans_fixed(df, F.col("embedding"), k=2, dim=4, iters=3)
    got = {}
    for r in asg.collect():
        got.setdefault(r.vec_id % 2, set()).add(r.cid)
    assert len(got[0]) == 1 and len(got[1]) == 1
    assert got[0] != got[1]


# ---------------------------------------------------------- selection

@pytest.mark.parametrize("bucket_bits", [1, 6, 10])
def test_stratified_selection_matches_full_sort(spark, bucket_bits):
    """Histogram selection == brute-force k-smallest-by-(hash,key) per
    stratum, at bucket granularities from 'boundary is everything'
    (B=1) to fine (B=10)."""
    import hashlib
    from imagery_utils_spark.operators.selection import (
        stratified_sample_exact)
    rows = [Row(s=f"s{i % 3}", k=i) for i in range(200)]
    df = spark.createDataFrame(rows).repartition(7)
    kept = stratified_sample_exact(df, "s", F.col("k"), p=1, q=4,
                                   bucket_bits=bucket_bits)
    got = {}
    for r in kept.collect():
        got.setdefault(r.s, set()).add(r.k)

    def h60(v):
        return int(hashlib.sha256(str(v).encode()).hexdigest()[:15], 16)

    for s in ("s0", "s1", "s2"):
        members = [i for i in range(200) if f"s{i % 3}" == s]
        k = (len(members) * 1 + 3) // 4
        want = set(sorted(members, key=lambda v: (h60(v), v))[:k])
        assert got[s] == want, (s, bucket_bits)


def test_stratified_selection_exact_k_and_reproducible(spark):
    from imagery_utils_spark.operators.selection import (
        stratified_sample_exact)
    rows = [Row(s="a", k=i) for i in range(97)]
    df = spark.createDataFrame(rows)
    k1 = {r.k for r in stratified_sample_exact(
        df, "s", F.col("k"), p=1, q=5).collect()}
    k2 = {r.k for r in stratified_sample_exact(
        df.repartition(11), "s", F.col("k"), p=1, q=5).collect()}
    assert k1 == k2 and len(k1) == (97 + 4) // 5


# ------------------------------------------- hypothesis properties

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)),
                min_size=1, max_size=120),
       st.integers(1, 16))
def test_skyline_property(spark, pts, n_buckets):
    df = spark.createDataFrame([Row(a=x, b=y) for x, y in pts])
    got = {(r.x, r.ymax) for r in
           skyline2d(df, F.col("a"), F.col("b"),
                     n_buckets=n_buckets).collect()}
    assert got == _brute_skyline(pts)


@settings(max_examples=10, deadline=None)
@given(st.integers(1, 150), st.integers(1, 9), st.integers(2, 10))
def test_selection_property(spark, n, p, q):
    """k-smallest-by-value via histogram selection == python sorted
    prefix, for arbitrary n and rational fractions p/q (p < q)."""
    import random as _r
    from imagery_utils_spark.operators.selection import select_k_smallest
    if p >= q:
        p = q - 1
    rng = _r.Random(n * 31 + p * 7 + q)
    vals = [rng.randint(0, 500) for _ in range(n)]
    rows = [Row(s="x", v=v, i=i) for i, v in enumerate(vals)]
    kept = select_k_smallest(spark.createDataFrame(rows), "s",
                             F.col("v"), F.col("i"), p=p, q=q,
                             bucket_bits=4, value_bits=9)
    got = sorted((r.v, r.i) for r in kept.collect())
    k = (n * p + q - 1) // q
    want = sorted((v, i) for i, v in enumerate(vals))[:k]
    assert got == want


def test_selection_value_bits_actually_buckets(spark):
    """With value_bits set to the key magnitude, the boundary bucket
    holds a sliver, never the whole stratum (the degenerate full-sort
    the hypothesis property exposed for small values at 60 bits)."""
    from imagery_utils_spark.operators.selection import select_k_smallest
    rows = [Row(s="x", v=i * 13 % 512, i=i) for i in range(512)]
    df = spark.createDataFrame(rows)
    kept = select_k_smallest(df, "s", F.col("v"), F.col("i"),
                             p=1, q=4, bucket_bits=4, value_bits=9)
    got = sorted((r.v, r.i) for r in kept.collect())
    want = sorted((i * 13 % 512, i) for i in range(512))[:128]
    assert got == want
    # bucketing really splits: 16 buckets over a 9-bit value range
    hist = (df.withColumn("_b", F.shiftright(F.col("v").cast("long"), 5))
            .groupBy("_b").count().collect())
    assert len(hist) > 8
