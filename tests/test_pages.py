"""Pages synthesis determinism, geocode round-trip, byte-identical text
invariant, and SQL-parity of the lon/lat derivation (BASELINE.json.input_hint)."""

import hashlib
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from imagery_utils_spark.sources import pages


@pytest.fixture(scope="module")
def pages_df(spark, sf_dir):
    return pages.synthesize_pages(spark, sf_dir).cache()


def test_schema_and_counts(pages_df, spark, sf_dir):
    assert dict(pages_df.drop("doc_id").dtypes) == {
        "url": "string", "warc_ts": "timestamp", "html": "binary",
        "text": "string", "lang": "string",
    }
    ndocs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert pages_df.count() == ndocs
    assert pages_df.select("url").distinct().count() == ndocs


def test_geocode_roundtrip_exact(pages_df):
    # geocoded lat/lon from html must equal the arithmetic derivation exactly
    geo = pages.geocode(pages_df)
    lon, lat = pages.lonlat_cols(F.col("doc_id"))
    mismatch = geo.withColumn("e_lon", lon).withColumn("e_lat", lat).filter(
        (F.col("lon") != F.col("e_lon")) | (F.col("lat") != F.col("e_lat"))
    )
    assert mismatch.count() == 0


def test_geocode_missing_tag_is_null(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"<html><head></head><body>no geo</body></html>"))],
        "doc_id long, html binary",
    )
    r = pages.geocode(df).first()
    assert r.lat is None and r.lon is None


def test_geocode_malformed_value_nulls(spark):
    # a present tag with a non-numeric payload must null out, not throw
    # (ANSI mode would raise on a plain cast)
    df = spark.createDataFrame(
        [(1, bytearray(b'<meta name="geo.position" content="abc;def">'))],
        "doc_id long, html binary",
    )
    r = pages.geocode(df).first()
    assert r.lat is None and r.lon is None


def test_text_byte_identical(pages_df, spark, sf_dir):
    # input_hint invariant: sha2(text) per url matches source documents
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    left = pages.geocode(pages_df).select("doc_id", F.sha2(F.col("text"), 256).alias("h"))
    right = docs.select("doc_id", F.sha2(F.col("text"), 256).alias("h2"))
    bad = left.join(right, "doc_id").filter(F.col("h") != F.col("h2"))
    assert bad.count() == 0


def test_lonlat_sql_parity(pages_df, spark, sf_dir):
    lon_sql, lat_sql = pages.lonlat_sql("doc_id")
    con = duckdb.connect()
    exp = con.execute(
        f"select doc_id, {lon_sql} as lon, {lat_sql} as lat "
        f"from '{sf_dir}/documents.parquet' order by doc_id"
    ).fetchall()
    got = (
        pages_df.select("doc_id", *pages.lonlat_cols(F.col("doc_id")))
        .orderBy("doc_id").collect()
    )
    assert len(exp) == len(got)
    for (eid, elon, elat), r in zip(exp, got):
        assert r.doc_id == eid
        assert r.lon == elon, (eid, r.lon, elon)   # bit-exact
        assert r.lat == elat, (eid, r.lat, elat)


def test_geography_shape(pages_df):
    geo = pages.geocode(pages_df)
    stats = geo.agg(
        F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat"),
        F.count(F.when(F.col("lon") > 170, 1)).alias("near_am_e"),
        F.count(F.when(F.col("lon") < -170, 1)).alias("near_am_w"),
        F.count("*").alias("n"),
    ).first()
    assert stats["min(lon)"] >= -180.0 and stats["max(lon)"] < 180.0
    assert stats["min(lat)"] >= -90.0 and stats["max(lat)"] <= 90.0
    # hot cluster 0 sits at 179.8E: roughly half of all pages near the
    # anti-meridian, some wrapped onto the west side
    assert stats.near_am_e + stats.near_am_w > stats.n * 0.3
    assert stats.near_am_w > 0


def test_hot_cell_skew(pages_df):
    # geometric cluster distribution -> top cell at res 4 should hold a
    # large share (skew driver for salting)
    geo = pages.geocode(pages_df)
    from imagery_utils_spark.operators.spatial_join import cell_col
    counts = (
        geo.groupBy(cell_col(F.col("lon"), F.col("lat"), 4).alias("cell"))
        .count().orderBy(F.desc("count")).collect()
    )
    total = sum(r["count"] for r in counts)
    assert counts[0]["count"] / total > 0.25


def test_geocode_marker_in_body_first_occurrence(spark):
    # ADVICE r1: the geocoder must anchor on the FIRST geo marker (the head
    # tag), not the last — a body containing the literal marker string must
    # not change the result.
    head = b'<html><head><meta name="geo.position" content="15.1000;179.8000">'
    body = b'</head><body>quoting geo.position" content="99.0;99.0" here</body></html>'
    df = spark.createDataFrame([(1, bytearray(head + body))], "doc_id long, html binary")
    r = pages.geocode(df).first()
    assert (r.lat, r.lon) == (15.1, 179.8)


_HEAD = b'<html><head><meta name="geo.position" content="15.1000;179.8000">'


def test_geocode_invalid_utf8_body(spark):
    # a page whose body is not valid UTF-8 geocodes like the valid page
    # instead of failing the whole query
    df = spark.createDataFrame(
        [(1, bytearray(_HEAD + b"</head><body>ok</body></html>")),
         (2, bytearray(_HEAD + b"</head><body>bad \xff\xfe x</body></html>"))],
        "doc_id long, html binary",
    )
    got = {r.doc_id: (r.lat, r.lon) for r in pages.geocode(df).collect()}
    assert got == {1: (15.1, 179.8), 2: (15.1, 179.8)}


def test_geocode_tag_ends_at_first_quote(spark):
    # the tag is the content attribute value: a second marker inside it
    # does not end it, the closing quote does
    page = b'<meta name="geo.position" content="12.5;3.0 geo.position" content="7;8">'
    df = spark.createDataFrame([(1, bytearray(page))], "doc_id long, html binary")
    r = pages.geocode(df).first()
    assert (r.lat, r.lon) == (12.5, None)


def _attr_tag(s):
    """The content attribute value after the first marker, as a parser
    reads it (None without a marker)."""
    i = s.find(pages._GEO_MARK)
    return None if i < 0 else s[i + len(pages._GEO_MARK):].split('"', 1)[0]


def _marker_before_quote(s):
    rest = s[s.find(pages._GEO_MARK) + len(pages._GEO_MARK):]
    j, q = rest.find(pages._GEO_MARK), rest.find('"')
    return j >= 0 and (q < 0 or j < q)


def _decode_slicing_oracle(html):
    """The earlier geocode: decode the page, cut before the second marker
    and after the first, then at the first quote."""
    m = pages._GEO_MARK
    s = F.decode(html, "utf-8")
    tag = F.substring_index(
        F.substring_index(F.substring_index(s, m, 2), m, -1), '"', 1)
    has = F.contains(s, F.lit(m))
    return (F.when(has, F.substring_index(tag, ";", 1)).try_cast("double"),
            F.when(has, F.substring_index(tag, ";", -1)).try_cast("double"))


def test_geocode_fuzz_matches_attribute_rule_and_decode_oracle(spark):
    # 30k adversarial strings from the marker, quotes, separators, digits,
    # spaces and multi-byte characters. Every row follows the attribute-value
    # rule; rows differ from the decode oracle only where a second marker
    # comes before the closing quote (the oracle cut the tag there).
    rng = random.Random(20261019)
    tokens = [pages._GEO_MARK] * 3 + ['"', '"', ";", ";", ".", "-", " ", "é", "€",
                                      '<meta name="'] + list("0123456789")
    corpus = []
    for _ in range(30_000):
        s = "".join(rng.choice(tokens) for _ in range(rng.randrange(16)))
        if rng.random() < 0.5:
            s = '<meta name="' + pages._GEO_MARK + s
        corpus.append(s)
    df = spark.createDataFrame(
        [(i, bytearray(s.encode()), _attr_tag(s)) for i, s in enumerate(corpus)],
        "id long, html binary, tag string",
    )
    tag = F.col("tag")
    exp_lat = F.when(tag.isNotNull(), F.substring_index(tag, ";", 1)).try_cast("double")
    exp_lon = F.when(tag.isNotNull(), F.substring_index(tag, ";", -1)).try_cast("double")
    old_lat, old_lon = _decode_slicing_oracle(F.col("html"))
    rows = pages.geocode(df).select(
        "id", "lat", "lon", exp_lat.alias("exp_lat"), exp_lon.alias("exp_lon"),
        old_lat.alias("old_lat"), old_lon.alias("old_lon")).collect()
    assert len(rows) == len(corpus)
    parsed = differ = 0
    for r in rows:
        s = corpus[r.id]
        assert (r.lat, r.lon) == (r.exp_lat, r.exp_lon), (s, r)
        parsed += r.lat is not None
        if (r.lat, r.lon) != (r.old_lat, r.old_lon):
            assert _marker_before_quote(s), (s, r)
            differ += 1
    # the corpus reaches both the parsed values and the changed rows
    assert parsed > 1000 and differ > 100, (parsed, differ)


def test_extract_text_col_invalid_utf8_body(spark):
    # the valid page's text is unchanged and the invalid page's body comes
    # back byte for byte, instead of failing the query
    bad = b"bad \xff\xfe x"
    df = spark.createDataFrame(
        [(1, bytearray(_HEAD + "</head><body>ok é €</body></html>".encode())),
         (2, bytearray(_HEAD + b"</head><body>" + bad + b"</body></html>"))],
        "doc_id long, html binary",
    )
    text = pages.extract_text_col(F.col("html"))
    got = {r.doc_id: r for r in df.select("doc_id", text.alias("t"),
                                          F.sha2(text, 256).alias("h")).collect()}
    assert got[1].t == "ok é €"
    assert got[2].h == hashlib.sha256(bad).hexdigest()


def test_spread_small_input_byte_gate(spark, tmp_path):
    """r5: the spread must NOT fire for tiny file inputs (the repartition
    exchange + worker spawns cost more than single-threaded UDF work — the
    r4 always-spread was the minhash/sidecar battery regression), must fire
    when forced by min_bytes=0, and must never use df.rdd (probe cost)."""
    from imagery_utils_spark.sources.tables import spread_small_input

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    p = str(tmp_path / "tiny.parquet")
    df.coalesce(1).write.parquet(p)
    tiny = spark.read.parquet(p)

    # tiny file: unchanged plan object (no inserted exchange)
    out = spread_small_input(tiny)
    assert out is tiny

    # forced: spreads to session parallelism
    forced = spread_small_input(tiny, min_bytes=0)
    assert forced is not tiny
    assert forced.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    # non-file source passes through
    local = spark.createDataFrame([(1,)], "a int")
    assert spread_small_input(local) is local
