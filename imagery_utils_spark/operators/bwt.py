"""Burrows–Wheeler transform (1994 DEC SRC report) — the
compression-stage permutation under bzip2-style codecs, in its exact
sentinel form: append a unique smallest sentinel, sort ALL rotations,
emit the last column; invert by the standard LF-mapping walk.

Engine construction: literal rotation sort (the definition). The
battery oracle derives the same column via the SUFFIX-ARRAY identity
(bwt[i] = s[sa[i]−1], sa from direct suffix sort) — equivalent only
because the sentinel is unique and smallest, which is exactly the
property worth pinning. Roundtrip (inverse ∘ forward = id) is asserted
inline on every row.

Scale shape: a per-document local transform (mapInPandas batch work,
embarrassingly parallel); block-sorting whole shards would be a
segmented sort, out of scope here.
"""

from __future__ import annotations

SENTINEL = "\x01"

__all__ = ["SENTINEL", "bwt_forward", "bwt_inverse"]


def bwt_forward(s: str) -> str:
    """Rotation-sort BWT of s + sentinel (s must not contain it)."""
    if SENTINEL in s:
        raise ValueError("input contains the sentinel")
    t = s + SENTINEL
    n = len(t)
    rot = sorted(t[i:] + t[:i] for i in range(n))
    return "".join(r[-1] for r in rot)


def bwt_inverse(b: str) -> str:
    """LF-mapping inversion; strips the sentinel."""
    n = len(b)
    # rank of each char occurrence + first-column start offsets
    counts: dict[str, int] = {}
    ranks = []
    for ch in b:
        ranks.append(counts.get(ch, 0))
        counts[ch] = counts.get(ch, 0) + 1
    first: dict[str, int] = {}
    total = 0
    for ch in sorted(counts):
        first[ch] = total
        total += counts[ch]
    # walk from the sentinel's row (it terminates the original string)
    row = b.index(SENTINEL)
    out = []
    for _ in range(n - 1):
        row = first[b[row]] + ranks[row]
        out.append(b[row])
    return "".join(reversed(out))
