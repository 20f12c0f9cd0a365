"""Web link graph: extraction parity and integer PageRank vs a
plain-python fixed-point reference (same update rule, dict arithmetic)."""

import random

from pyspark.sql import functions as F

from imagery_utils_spark.operators.webgraph import (
    anchor_text_rollup,
    extract_links,
    host_col,
    pagerank_int,
)

SCALE = 10 ** 12


def _ref_pagerank(edges, iters=8, scale=SCALE):
    edges = {(s, d) for s, d in edges if s != d}
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {v: scale // n for v in nodes}
    base = (15 * scale) // (100 * n)
    for _ in range(iters):
        insum = {v: 0 for v in nodes}
        for s, d in edges:
            insum[d] += rank[s] // out[s]
        dang = sum(rank[v] for v in nodes if v not in out)
        rank = {v: base + (85 * (insum[v] + dang // n)) // 100
                for v in nodes}
    return rank


def test_pagerank_int_matches_reference(spark):
    rng = random.Random(42)
    edges = [(rng.randrange(30), rng.randrange(33)) for _ in range(160)]
    sdf = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank_int(sdf, iters=8).collect()}
    assert got == _ref_pagerank(edges)


def test_pagerank_hub_dominates(spark):
    # every node links to 0; 0 links to 1
    # all mass funnels into the 0<->1 pair (period-2 flow; with 8 fixed
    # iterations the pair holds ~88% of the mass, leaves hold base rank)
    edges = [(i, 0) for i in range(1, 10)] + [(0, 1)]
    sdf = spark.createDataFrame(edges, "src long, dst long")
    ranks = {r.node: r.rank for r in pagerank_int(sdf, iters=8).collect()}
    assert ranks == _ref_pagerank(edges)
    assert ranks[0] + ranks[1] > 8 * 10 ** 11
    assert min(ranks.values()) == ranks[9] == 15 * 10 ** 9
    assert sum(ranks.values()) <= 10 ** 12  # floor losses only


def test_extract_links_and_rollup(spark):
    html = ('<html><body>x<a href="https://a.example/p/1">one two</a>'
            'mid<a href="https://b.example/">three</a></body></html>')
    pages = spark.createDataFrame(
        [(1, html.encode()), (2, b"<html><body>none</body></html>")],
        "doc_id long, html binary")
    links = extract_links(pages).collect()
    assert [(r.doc_id, r.href, r.anchor) for r in links] == [
        (1, "https://a.example/p/1", "one two"),
        (1, "https://b.example/", "three"),
    ]
    hosts = (extract_links(pages)
             .withColumn("dst_host", host_col(F.col("href"))))
    roll = {r.dst_host: r for r in anchor_text_rollup(hosts).collect()}
    assert set(roll) == {"a.example", "b.example"}
    assert roll["a.example"].n_links == 1
    assert roll["a.example"].n_src_docs == 1


def test_extract_links_invalid_utf8_page(spark):
    # a page that is not valid UTF-8 contributes its anchors instead of
    # failing the query, and the valid page's links are unchanged
    pages = spark.createDataFrame(
        [(1, b'<html><body><a href="https://a.example/">one</a></body></html>'),
         (2, b'<html><body>\xff\xfe<a href="https://b.example/">two</a></body></html>')],
        "doc_id long, html binary")
    links = sorted((r.doc_id, r.href, r.anchor) for r in extract_links(pages).collect())
    assert links == [(1, "https://a.example/", "one"), (2, "https://b.example/", "two")]


def test_host_col_shapes(spark):
    df = spark.createDataFrame(
        [("https://www.x.example:8080/p/1",),
         ("http://y.example/",), ("ftp://z.example",)], "url string")
    got = [r[0] for r in df.select(host_col(F.col("url"))).collect()]
    assert got == ["www.x.example", "y.example", "z.example"]


def _ref_triangles(edges):
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for u, v in es:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = 0
    for u, v in es:
        tri += len(adj[u] & adj[v])
    return len(es), tri // 3


def test_triangle_count_matches_bruteforce(spark):
    import random
    rng = random.Random(7)
    edges = [(rng.randrange(20), rng.randrange(20)) for _ in range(120)]
    sdf = spark.createDataFrame(edges, "src long, dst long")
    row = __import__(
        "imagery_utils_spark.operators.webgraph",
        fromlist=["triangle_count"]).triangle_count(sdf).collect()[0]
    n_e, n_t = _ref_triangles(edges)
    assert row.n_edges == n_e
    assert row.n_triangles == n_t
    assert row.n_wedges >= row.n_triangles


def test_triangle_count_known_graphs(spark):
    from imagery_utils_spark.operators.webgraph import triangle_count
    # K4: 4 triangles; adding a pendant edge changes nothing
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    sdf = spark.createDataFrame(k4 + [(3, 9)], "src long, dst long")
    row = triangle_count(sdf).collect()[0]
    assert row.n_triangles == 4
    # star graph: zero triangles, zero wedges after orientation closing
    star = [(0, i) for i in range(1, 8)]
    row = triangle_count(
        spark.createDataFrame(star, "src long, dst long")).collect()[0]
    assert row.n_triangles == 0
