"""Seeded input generation: a ``documents`` table, expanded into pages.

The engine derives every page coordinate and attribute from ``doc_id``
(``sources.pages.lonlat_cols``), so the seed moves the ``doc_id`` base: a new
seed gives new coordinates and attributes with the same 11-cluster skew and
the same hot cluster at the anti-meridian. Page bodies come from a seeded pool
of ``POOL`` texts, reused round-robin like the ``documents x replicate`` bench
input.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imagery_utils_spark.sources import pages as P

POOL = 5000
VOCAB = ("the a fast slow big small key order sort table scan merge part window "
         "hash join batch stream spark dup group query row data filter customer "
         "line value column agg vector").split()
LANGS = ["en", "de", "es", "fr", "zh", "ja", "ru", "pt"]

# doc_id * KNUTH must stay inside a signed 64-bit integer (ANSI mode raises)
_MAX_DOC_ID = (2**63 - 1) // P.KNUTH


def doc_id_base(seed: int, n_pages: int) -> int:
    return (seed * 1_000_003) % (_MAX_DOC_ID - n_pages)


def text_pool(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed % 2**63)
    lengths = rng.integers(15, 70, size=POOL)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, at = [], 0
    for n in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + n]))
        at += n
    langs = rng.integers(0, len(LANGS), size=POOL)
    return pd.DataFrame({"k": np.arange(POOL, dtype=np.int64), "text": texts,
                         "lang": [LANGS[i] for i in langs]})


def documents(spark: SparkSession, seed: int, n_pages: int, slices: int) -> DataFrame:
    base = doc_id_base(seed, n_pages)
    pool = spark.createDataFrame(text_pool(seed))
    ids = spark.range(base, base + n_pages, numPartitions=slices)
    return ids.join(F.broadcast(pool), (F.col("id") - base) % POOL == F.col("k")).select(
        F.col("id").alias("doc_id"), "text", "lang")


def pages(spark: SparkSession, seed: int, n_pages: int, slices: int) -> DataFrame:
    return P.pages_from_documents(documents(spark, seed, n_pages, slices))


def write_pages(spark: SparkSession, seed: int, n_pages: int, slices: int, path: str) -> None:
    pages(spark, seed, n_pages, slices).write.mode("overwrite").parquet(path)
    drop_checksums(path)


def drop_checksums(path: str) -> None:
    """Remove Hadoop ``.crc`` sidecars so reads skip the checksum filesystem's
    small-chunk verification path (see ``bench.py``)."""
    for crc in glob.glob(os.path.join(path, "**", ".*.crc"), recursive=True):
        os.remove(crc)


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if not name.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size
