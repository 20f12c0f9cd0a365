"""HTML head/metadata extraction as pure JVM column algebra.

The reference parses per-image XML/PVL metadata sidecars into columns
(sources/sidecar.py is the engine's analog); for web pages the sidecar
IS the document head. These extractors pull the title, named <meta>
content, and the first <h1> with RE2-compatible regexes (no backrefs,
no lookahead) so the DuckDB oracle can replay the identical pattern —
and so the whole projection stays inside whole-stage codegen: zero
Python, zero shuffle, prunes to the html column only.

Limits (declared): regex-grade extraction — attribute order is assumed
(name before content), nesting inside <h1> is not stripped. That is the
industry norm for crawl-scale head mining (the full-DOM path belongs in
an Arrow-batched UDF and is deliberately not the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["title_col", "meta_content_col", "first_h1_col"]

TITLE_RE = "<title>([^<]*)</title>"
H1_RE = "<h1>([^<]*)</h1>"


def title_col(page: Column) -> Column:
    return F.regexp_extract(page, TITLE_RE, 1)


def meta_content_col(page: Column, name: str) -> Column:
    """content attribute of <meta name="..." content="...">."""
    pat = f'<meta name="{name}" content="([^"]*)"'
    return F.regexp_extract(page, pat, 1)


def first_h1_col(page: Column) -> Column:
    return F.regexp_extract(page, H1_RE, 1)
