"""Web link graph: anchor extraction, anchor-text rollup, and an
integer-exact distributed PageRank.

The reference pipeline ranks mosaic contributors with a deterministic
quality score (pgc_mosaic.py scoring); the web-payload analog of a
corpus-wide contributor rank is link-graph centrality. This module
builds the host-level hyperlink graph straight from page HTML and ranks
hosts with PageRank — the classic Common-Crawl-scale graph job.

Determinism / scale design:
 - link extraction is pure JVM regexp (``regexp_extract_all`` twice over
   the same pattern — href group and anchor-text group — zipped; zero
   Python, zero shuffle);
 - PageRank state is **int64 fixed-point** (``scale`` = 1e12): every
   update is integer floor arithmetic, so partial sums are associative
   and commutative and a plain ``groupBy().sum()`` gives bit-identical
   results at ANY partitioning/parallelism — no float-accumulation-order
   hazard, which is what makes the row oracle-checkable cross-engine
   and the job reproducible across cluster sizes (the north rule's
   N-vs-4N run must not change the answer);
 - per iteration: one shuffle for the contribution groupBy + one
   broadcast 1-row dangling-mass aggregate (crossJoin of a singleton —
   never a driver collect inside the loop); lineage truncated per round
   exactly like operators/graph.py (localCheckpoint locally, a reliable
   checkpoint dir on a real cluster);
 - the rank vector is (long, long) rows — at 10^8 hosts that is a few
   GB spread across the cluster, far below shuffle limits.

Update rule (all BIGINT, iters fixed):
    base      = (15 * scale) // (100 * n)
    insum(v)  = sum over in-edges (u,v) of rank(u) // outdeg(u)
    dang      = sum of rank(u) over nodes with outdeg 0
    rank'(v)  = base + (85 * (insum(v) + dang // n)) // 100
With scale = 1e12 the intermediate 85 * x stays far below int64 range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["extract_links", "anchor_text_rollup", "host_col",
           "pagerank_int", "triangle_count", "LINK_RE"]

# href + anchor text of simple anchors; RE2-compatible (no backrefs) so
# the DuckDB oracle can run the identical pattern.
LINK_RE = '<a href="([^"]*)">([^<]*)</a>'


def extract_links(pages: DataFrame, html_col: str = "html",
                  id_col: str = "doc_id") -> DataFrame:
    """(doc_id, href, anchor) — one row per anchor tag, document order.

    ``html_col`` may be binary (UTF-8 page bytes) or string. Binary is
    cast to string, which wraps the bytes without validating them, so a
    page with invalid UTF-8 contributes its anchors instead of failing
    the query. Pages with no anchors contribute no rows.
    """
    s = F.col(html_col).cast("string")
    pat = F.lit(LINK_RE)
    pairs = F.arrays_zip(
        F.regexp_extract_all(s, pat, 1).alias("href"),
        F.regexp_extract_all(s, pat, 2).alias("anchor"),
    )
    return (pages
            .select(F.col(id_col).alias("doc_id"),
                    F.explode(pairs).alias("_l"))
            .select("doc_id", F.col("_l.href").alias("href"),
                    F.col("_l.anchor").alias("anchor")))


def host_col(url) -> F.Column:
    """Host part of an absolute URL (scheme stripped, port kept off the
    host match, path dropped). Same algebra the SQL twin uses."""
    rest = F.regexp_replace(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    return F.regexp_extract(rest, "^([^/:?]*)", 1)


def anchor_text_rollup(links: DataFrame, dst_col: str = "dst_host",
                       anchor: str = "anchor") -> DataFrame:
    """Per target host: in-link count, distinct linking docs, and the
    sha256 of the ordered anchor-text list (order-independent: the list
    is sorted before hashing). The anchor-text profile per target is
    the classic search-index signal (it names the page better than the
    page does)."""
    return (links.groupBy(dst_col)
            .agg(
                F.count("*").alias("n_links"),
                F.countDistinct("doc_id").alias("n_src_docs"),
                F.sha2(F.concat_ws(
                    ",", F.sort_array(F.collect_list(anchor))), 256)
                .alias("anchors_sha"),
            ))


def pagerank_int(edges: DataFrame, iters: int = 8,
                 scale: int = 10 ** 12,
                 src: str = "src", dst: str = "dst") -> DataFrame:
    """Integer fixed-point PageRank over distinct (src, dst) edges.

    Returns (node, rank) with rank in units of 1/scale; sum of ranks is
    ~scale (floor losses only). Damping 0.85, dangling mass spread
    uniformly — the standard formulation, quantized to int64 so the
    result is independent of partitioning and summation order.
    """
    e = (edges.select(F.col(src).cast("long").alias("src"),
                      F.col(dst).cast("long").alias("dst"))
         .filter(F.col("src") != F.col("dst"))
         .distinct().localCheckpoint(eager=True))
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint(eager=True))
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    deg_edges = e.join(deg, "src").localCheckpoint(eager=True)
    base = (15 * scale) // (100 * n)
    ranks = nodes.withColumn("rank", F.lit(scale // n).cast("long"))
    for _ in range(iters):
        ranks = _pagerank_step(nodes, ranks, deg_edges, deg, base,
                               n).localCheckpoint(eager=True)
    return ranks


def _pagerank_step(nodes: DataFrame, ranks: DataFrame,
                   deg_edges: DataFrame, deg: DataFrame,
                   base: int, n: int) -> DataFrame:
    """One integer update (un-truncated — the loop checkpoints)."""
    contrib = (ranks.join(deg_edges, ranks["node"] == deg_edges["src"])
               .select(F.col("dst").alias("node"),
                       F.expr("rank div outdeg").alias("c"))
               .groupBy("node").agg(F.sum("c").alias("insum")))
    dang = (ranks.join(deg, ranks["node"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("dang")))
    return (nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (F.lit(base)
                 + F.expr(f"(85 * (coalesce(insum, 0) "
                          f"+ dang div {n})) div 100"))
                .cast("long").alias("rank"),
            ))


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Global triangle + wedge count via DEGREE-ORDERED orientation
    (Cohen 2009 / Suri-Vassilvitskii WWW'11 MapReduce formulation).

    Each undirected edge is oriented from the endpoint of smaller
    (degree, id) to the larger; every out-neighborhood then has size
    O(sqrt(m)), so the wedge join (o JOIN o ON b) — the step that
    explodes quadratically on celebrity nodes in the naive formulation
    — is provably skew-bounded: a degree-10^7 hub contributes wedges
    only through its (few) higher-degree peers. Three shuffles total:
    degree agg, wedge join, closing semi join. Returns one row
    (n_edges, n_wedges, n_triangles); each triangle is counted exactly
    once (at its lowest-rank corner).
    """
    u = F.least(F.col(src), F.col(dst))
    v = F.greatest(F.col(src), F.col(dst))
    e = (edges.select(u.cast("long").alias("u"), v.cast("long").alias("v"))
         .filter(F.col("u") != F.col("v")).distinct())
    deg = (e.select(F.col("u").alias("n"))
           .unionByName(e.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count("*").alias("d")))
    ej = (e.join(deg.withColumnRenamed("n", "u")
                 .withColumnRenamed("d", "du"), "u")
          .join(deg.withColumnRenamed("n", "v")
                .withColumnRenamed("d", "dv"), "v"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    o = ej.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    o2 = o.select(F.col("a").alias("a2"), F.col("b").alias("b2"))
    wedges = (o.join(o2, F.col("b") == F.col("a2"))
              .select("a", "b", F.col("b2").alias("c")))
    tri = wedges.join(
        o.select(F.col("a").alias("ta"), F.col("b").alias("tc")),
        (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")),
        "left_semi")
    return (e.agg(F.count("*").alias("n_edges"))
            .crossJoin(F.broadcast(
                wedges.agg(F.count("*").alias("n_wedges"))))
            .crossJoin(F.broadcast(
                tri.agg(F.count("*").alias("n_triangles")))))


def bfs_layers(edges: DataFrame, source: int, iters: int = 4) -> DataFrame:
    """Fixed-iteration BFS frontier expansion — the MIN-PLUS semiring
    over the link graph (pagerank_int is the sum semiring, graph.py's
    connected components the min-label one; this closes the set).

    dist_{t+1}(v) = min(dist_t(v), 1 + min over u->v of dist_t(u)):
    each round is one join frontier->edges plus a map-side-combinable
    min aggregate — integer distances, so results are bit-identical
    under any partitioning / cluster size. Multi-edges need no dedup
    (min absorbs them). Nodes unreached within ``iters`` hops are
    absent (the caller sees the reachable set per layer count)."""
    dist = edges.sparkSession.createDataFrame(
        [(int(source), 0)], "node long, dist long")
    for _ in range(iters):
        step = (dist.join(edges, dist.node == edges.src)
                .select(F.col("dst").alias("node"),
                        (F.col("dist") + 1).alias("dist")))
        dist = (dist.unionByName(step)
                .groupBy("node").agg(F.min("dist").alias("dist")))
    return dist
