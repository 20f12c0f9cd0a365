"""Text-analysis functions for the webtext payload — JVM-side column
expressions wherever possible (whole-stage codegen; UDFs only where hashing
must be numpy-vectorized).

These are first-class graft operators (training-data pipeline needs):
language-ID (stopword-hit heuristic), quality scoring (length / punctuation /
stopword ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting (normalized token hash).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal stopword profiles for the fixture languages (top function words).
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "nicht"],
    "fr": ["le", "la", "les", "de", "et", "est", "un", "une", "que", "pour"],
    "es": ["el", "la", "los", "de", "y", "es", "un", "una", "que", "por"],
    "ru": ["i", "v", "ne", "na", "chto", "eto", "s", "po", "kak", "iz"],
    "zh": ["de", "le", "shi", "zai", "you", "he", "wo", "ta", "zhe", "bu"],
}

# A BPE-ish word/number/punctuation splitter (GPT-2-style classes, simplified).
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_col(text: Column) -> Column:
    """Whitespace tokens (empty strings filtered)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


def bpe_token_count_col(text: Column) -> Column:
    """Count of BPE-ish regex tokens — pure regexp, JVM-side."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def punct_ratio_col(text: Column) -> Column:
    """punctuation chars / total non-space chars (0 for empty)."""
    nonspace = F.length(F.regexp_replace(text, r"\s", ""))
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    return F.when(nonspace > 0, punct / nonspace).otherwise(F.lit(0.0))


def quality_score_col(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + punctuation sanity +
    mean-word-length band. Deterministic closed-form (oracle-friendly)."""
    toks = tokens_col(text)
    n = F.size(toks)
    mean_len = F.when(n > 0, F.length(F.concat_ws("", toks)) / n).otherwise(F.lit(0.0))
    len_term = F.least(n / F.lit(64.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio_col(text) * 4, F.lit(1.0))
    word_term = F.when((mean_len >= 3) & (mean_len <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    return (len_term + punct_term + word_term) / 3


def langid_col(text: Column) -> Column:
    """Heuristic language-ID: distinct-token hit count against each stopword
    profile, highest wins (ties -> lexicographically first lang). Pure column
    algebra: array of (hits, lang) structs -> array_max."""
    toks = F.array_distinct(tokens_col(F.lower(text)))
    langs = sorted(STOPWORDS)
    entries = [
        F.struct(
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]]))).alias("hits"),
            # array_max compares struct fields in order: on tied hit counts the
            # max neg_rank is the SMALLEST index, i.e. lexicographically first
            F.lit(-i).alias("neg_rank"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(langs)
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint_col(text: Column) -> Column:
    """Canonical document fingerprint: xxhash64 of the sorted distinct
    lowercase token set — n-gram-order-insensitive dedup key (the
    'fingerprinting' step of near-dup pipelines)."""
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(tokens_col(F.lower(text)))))
    return F.xxhash64(canon)


def winnowing_fingerprints_udf(k: int = 5, window: int = 4):
    """Document fingerprinting via rolling hashes + winnowing
    (Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD 2003 — public algorithm):

    1. character k-gram Rabin-Karp rolling hashes (polynomial mod 2^64,
       position-independent by construction) over the lowercased text;
    2. every sliding window of ``window`` consecutive gram hashes keeps its
       minimum — any shared substring of length >= k + window - 1 then
       shares at least one fingerprint.

    Arrow-batched numpy; returns sorted distinct fingerprints (array<long>).
    """
    import pyspark.sql.types as T

    # B^(k-1) .. B^0 mod 2^64: each k-gram hash is one vectorized
    # sliding-window multiply-sum (uint64 wraparound IS the mod) — no
    # per-character python loop; identical values to the rolling
    # prefix-difference formulation.
    bpows = np.array([pow(1000003, k - 1 - j, 1 << 64) for j in range(k)],
                     dtype=np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _fp(text: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for t in text:
                s = (t or "").lower().encode("utf-8")
                n = len(s)
                if n < k:
                    out.append([])
                    continue
                b = np.frombuffer(s, dtype=np.uint8).astype(np.uint64)
                win = np.lib.stride_tricks.sliding_window_view(b, k)
                grams = (win * bpows[None, :]).sum(axis=1)
                if len(grams) < window:
                    sel = {int(np.int64(grams.min()))}
                else:
                    sw = np.lib.stride_tricks.sliding_window_view(grams, window)
                    sel = set(sw.min(axis=1).view(np.int64).tolist())
                out.append(sorted(sel))
        return pd.Series(out)

    return _fp
