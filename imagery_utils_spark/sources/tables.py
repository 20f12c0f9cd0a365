"""Loaders for the driver-provided parquet tables (read-only, TESTDATA.md).

Analog of the reference's scan operators S1/S5 (directory / vector-index
scans, /root/reference/lib/utils.py:204-225): at scale these become
``spark.read.table`` over Iceberg; here they read parquet directly, and
Catalyst still gets predicate pushdown + column pruning on the scans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


SPREAD_MIN_BYTES = 4 * 1024 * 1024


def spread_small_input(df: DataFrame,
                       min_bytes: int = SPREAD_MIN_BYTES) -> DataFrame:
    """Round-robin repartition an UNDER-parallel input before a heavy
    per-row (pandas-UDF) stage — but only when the single-split work is big
    enough to amortize the inserted shuffle.

    A parquet file below maxPartitionBytes arrives as ONE split, so an
    Arrow UDF over it runs single-threaded no matter how many cores the
    session has. Spreading it is NOT free though: the repartition exchange
    + a python-worker spawn per new partition cost ~1-3 s wall (measured,
    r5 A/B vs r3 — the r4 always-spread version was the whole
    minhash/sidecar battery regression). So the gate is byte-aware:

    * tiny input (< ``min_bytes`` total): return unchanged — the UDF
      finishes single-threaded faster than the shuffle alone would run;
    * already-parallel input (file count or size/maxPartitionBytes splits
      >= half the core count): return unchanged — 100-TB scans land here,
      making this a no-op at scale;
    * genuinely under-parallel big input (one/few multi-MB files): spread.

    The probe uses ``inputFiles()`` + file stat, never ``df.rdd`` — the
    RDD conversion alone costs ~1.5 s per call on this plan size. Non-file
    sources (createDataFrame locals) already inherit their parallelism
    from the session and pass through unchanged."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    half = max(2, target // 2)
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df
    if len(files) >= half:
        return df
    mpb_conf = str(df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728"))
    mpb = int(mpb_conf.rstrip("bB")) if mpb_conf.rstrip("bB").isdigit() else 134217728
    total = 0
    for f in files:
        p = f[7:] if f.startswith("file:") else f
        try:
            total += os.path.getsize(p)
        except OSError:
            # remote scheme: stat through the session's Hadoop FS
            try:
                jvm = sc._jvm
                path = jvm.org.apache.hadoop.fs.Path(f)
                fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
                total += fs.getFileStatus(path).getLen()
            except Exception:
                return df.repartition(target)  # unknown size: spread (safe)
    if total < min_bytes:
        return df
    est_splits = -(-total // mpb)
    if max(len(files), est_splits) >= half:
        return df
    return df.repartition(target)


def load_filelist(spark: SparkSession, path: str,
                  col: str = "src_path") -> DataFrame:
    """S2 — a reference 'textfile of image paths' source
    (/root/reference/pgc_ortho.py:300-310 reads src as a .txt of paths,
    one per line): ``spark.read.text`` with blank/comment lines dropped
    and whitespace trimmed. Join it ``left_semi`` against the files table
    to scope a run, exactly the reference's list-driven selection."""
    lines = spark.read.text(path)
    v = F.trim(F.col("value"))
    return (
        lines.select(v.alias(col))
        .filter((F.length(col) > 0) & ~F.col(col).startswith("#"))
        .dropDuplicates([col])
    )
