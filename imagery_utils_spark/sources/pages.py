"""Synthetic Common-Crawl-style ``pages`` table + geocoding.

``BASELINE.json.input_hint``: the engine's primary input is an Iceberg table
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``.
No external data exists in this sandbox, so pages are synthesized
*deterministically* from the driver's read-only ``documents`` table — every
derived quantity is closed-form integer arithmetic on ``doc_id`` so the DuckDB
oracle can reproduce it exactly (see :func:`lonlat_sql`).

Geography design (FIXTURES.md §1): geometric cluster skew — cluster k gets
~2^-(k+1) of all pages, so cluster 0 is a *hot cell* (exercises salting), and
cluster 0 sits 0.2 deg from the anti-meridian (exercises the
doesCross180/getWrappedGeometry semantics of
/root/reference/lib/utils.py:537-645).

Coordinates are exact multiples of 1e-4 deg, rendered into the page ``html``
as ``<meta name="geo.position" content="{lat};{lon}">`` with 4 decimals —
float round-trip through the geocoder is therefore bit-exact.

The geocoding step plays the role of the reference's metadata-sidecar scan
(S7: ``get_attributes_from_xml``, /root/reference/lib/mosaic.py:320-497):
JVM substring slicing of per-row metadata into typed columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .._column_cache import per_jvm

# ---------------------------------------------------------------- derivation
# All constants are small primes / powers of two so every engine computes the
# same integers. KNUTH = 2654435761 (golden-ratio multiplicative hash).
KNUTH = 2654435761
H_MOD = 2147483648  # 2^31
N_CLUSTERS = 11     # floor(log2(1024/(1024-c))) for c in [0,1024) -> 0..10


def _hash_cols(doc_id: Column):
    h = (doc_id * F.lit(KNUTH)) % F.lit(H_MOD)
    h2 = (doc_id * F.lit(40503)) % F.lit(65536)
    return h, h2


def lonlat_cols(doc_id: Column) -> tuple[Column, Column]:
    """(lon, lat) doubles — exact multiples of 1e-4 deg."""
    h, h2 = _hash_cols(doc_id)
    c = h % 1024
    cluster = F.floor(F.log2(F.lit(1024.0) / (F.lit(1024.0) - c)))
    center_lon_k = F.when(cluster == 0, F.lit(1798000)).otherwise(
        ((cluster * 1367) % 3500 - 1750) * 1000
    )
    center_lat_k = F.when(cluster == 0, F.lit(150000)).otherwise(
        ((cluster * 911) % 1600 - 800) * 1000
    )
    jlon = (F.floor(h / 1024) % 40001) - 20000
    jlat = (h2 % 40001) - 20000
    lon_k = center_lon_k + jlon
    # wrap into [-180, 180) with a sign-safe double mod
    lon_k = ((lon_k + 1800000) % 3600000 + 3600000) % 3600000 - 1800000
    lat_k = F.greatest(F.lit(-899999), F.least(F.lit(899999), center_lat_k + jlat))
    return (lon_k / 10000.0).alias("lon"), (lat_k / 10000.0).alias("lat")


def lonlat_sql(doc_id: str = "doc_id") -> tuple[str, str]:
    """The same derivation as ANSI SQL (DuckDB oracle parity)."""
    h = f"(({doc_id} * {KNUTH}) % {H_MOD})"
    h2 = f"(({doc_id} * 40503) % 65536)"
    cluster = f"floor(log2(1024.0 / (1024.0 - ({h} % 1024))))"
    center_lon_k = f"(CASE WHEN {cluster} = 0 THEN 1798000 ELSE (({cluster} * 1367) % 3500 - 1750) * 1000 END)"
    center_lat_k = f"(CASE WHEN {cluster} = 0 THEN 150000 ELSE (({cluster} * 911) % 1600 - 800) * 1000 END)"
    jlon = f"(floor({h} / 1024) % 40001) - 20000"
    jlat = f"({h2} % 40001) - 20000"
    lon_k = f"(((({center_lon_k} + {jlon}) + 1800000) % 3600000 + 3600000) % 3600000 - 1800000)"
    lat_k = f"greatest(-899999, least(899999, {center_lat_k} + {jlat}))"
    return f"({lon_k} / 10000.0)", f"({lat_k} / 10000.0)"


# ---------------------------------------------------------------- the table


def synthesize_pages(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) derived from documents.parquet.

    ``replicate`` > 1 scales row count for bench runs (each replica gets a
    distinct doc_id range so geography/skew patterns repeat at scale).
    """
    import os

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    if replicate > 1:
        # Stream the range side and broadcast the small docs side, so the
        # expanded table is spread across all cores instead of inheriting the
        # single input split. The range gets at least 64 slices regardless of
        # the session's core count: a materialized write then lands >= 64
        # files, so a LATER higher-parallelism reader is never bottlenecked
        # on a couple of giant inodes (this VM's kernel serializes concurrent
        # same-inode reads). doc_id remap is the bijection id*replicate+rep —
        # no count() job.
        slices = max(64, spark.sparkContext.defaultParallelism)
        reps = spark.range(0, replicate, numPartitions=min(slices, replicate)
                           ).withColumnRenamed("id", "rep")
        docs = reps.crossJoin(F.broadcast(docs)).withColumn(
            "doc_id", F.col("doc_id") * F.lit(replicate) + F.col("rep")
        ).drop("rep")
    return pages_from_documents(docs)


def pages_from_documents(docs: DataFrame) -> DataFrame:
    doc_id = F.col("doc_id")
    lon, lat = lonlat_cols(doc_id)
    url = F.concat(
        F.lit("https://host"), (doc_id % 997).cast("string"),
        F.lit(".example/p/"), doc_id.cast("string"),
    ).alias("url")
    # 2019-01-01 .. ~2023-12-31 (157,766,400 s window), second granularity
    warc_ts = F.timestamp_seconds(
        F.lit(1546300800) + (doc_id * 104729) % 157766400
    ).alias("warc_ts")
    html = F.encode(
        F.format_string(
            '<html><head><meta name="geo.position" content="%.4f;%.4f">'
            '<meta name="warc-lang" content="%s"></head><body>%s</body></html>',
            lat, lon, F.col("lang"), F.col("text"),
        ),
        "utf-8",
    ).alias("html")
    return docs.select(
        F.col("doc_id"), url, warc_ts, html, F.col("text"), F.col("lang")
    )


# ---------------------------------------------------------------- geocoding

_GEO_MARK = 'geo.position" content="'


def geocode(pages: DataFrame) -> DataFrame:
    """pages + (lat, lon) columns; the byte-identical ``text`` column rides
    through untouched (input_hint invariant).

    The tag is the ``content`` attribute value, as an HTML parser reads it:
    the text after the FIRST marker (the head tag wins when the body text
    itself contains the marker string), up to the next ``"``. One
    early-exit ``instr`` over the raw bytes finds it; the cast to string
    wraps the bytes without validating them, so a page with invalid UTF-8
    in its body geocodes like any other instead of failing the query.
    Pure codegen, no regex engine and no Python worker. Pages without the
    tag geocode to null (analog of metadata-missing scenes that score -1 in
    the reference's ``lib/mosaic.py``); malformed values null out via
    try_cast.
    """
    return pages.withColumns(_latlon_cols())


@per_jvm
def _latlon_cols() -> dict[str, Column]:
    s = F.col("html").cast("string")
    at = F.instr(s, _GEO_MARK)
    # the guard wraps the tag, not each coordinate: lat and lon then share
    # one tag expression, which codegen evaluates once per row
    tag = F.when(at > 0, F.substring_index(F.substr(s, at + F.lit(len(_GEO_MARK))), '"', 1))
    return {
        "lat": F.substring_index(tag, ";", 1).try_cast("double"),
        "lon": F.substring_index(tag, ";", -1).try_cast("double"),
    }


def extract_text_col(html: Column) -> Column:
    """Recover the EXACT original body text from the page html — the
    north-rule per-row invariant (BASELINE.json input_hint: "byte-identical
    extracted text per url").

    The synthesized html head is fixed-format (it never contains the
    string '<body>'), and every document ends with the fixed 14-char
    '</body></html>' suffix — so slicing [first '<body>' + 6, len - 14]
    is exact even when the body text itself contains html markers (no
    regex, no split-on-suffix ambiguity). Pure JVM: cast + locate +
    substring, whole-stage-codegen'd. The cast wraps the bytes without
    validating them, so a page with invalid UTF-8 yields its raw body
    instead of failing the query."""
    s = html.cast("string")
    start = F.locate("<body>", s) + F.lit(6)
    return F.substring(s, start, F.length(s) - start - F.lit(13))
