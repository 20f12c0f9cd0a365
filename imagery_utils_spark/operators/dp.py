"""Dynamic-programming sequence kernels — DTW and Viterbi in their
EXACT integer forms, the per-group local step of a 100-TB sequence
pipeline (ONE groupBy shuffle collects a group's sequence; the DP is
O(len²) / O(len·states²) local work, nothing crosses groups).

DTW: the published O(nm) recurrence D[i,j] = |a_i − b_j| +
min(D[i−1,j], D[i,j−1], D[i−1,j−1]) over integer costs (Sakoe & Chiba
1978, unbanded). Exact — no floats.

Viterbi with path counting: max-plus DP over integer log-odds scores,
carrying (best score, number of optimal paths) per state — the
counting semiring on top of the published recurrence (Viterbi 1967 /
Rabiner 1989 tutorial form). The battery oracle brute-forces ALL
state paths per sequence (exhaustive enumeration — an independent
derivation, not a replay), so both the optimum and its multiplicity
are pinned.
"""

from __future__ import annotations

__all__ = ["dtw_distance", "viterbi_best"]


def dtw_distance(a: list[int], b: list[int]) -> int:
    """Exact integer DTW distance (full matrix, |·| local cost)."""
    n, m = len(a), len(b)
    if not n or not m:
        raise ValueError("empty sequence")
    big = 1 << 60
    prev = [big] * (m + 1)
    prev[0] = 0
    for i in range(1, n + 1):
        cur = [big] * (m + 1)
        for j in range(1, m + 1):
            c = abs(a[i - 1] - b[j - 1])
            cur[j] = c + min(prev[j], cur[j - 1], prev[j - 1])
        prev = cur
    return prev[m]


def viterbi_best(obs: list[int], start: list[int],
                 trans: list[list[int]],
                 emit: list[list[int]]) -> tuple[int, int]:
    """(best score, count of optimal paths) for an integer-scored HMM:
    score(path) = start[s₀] + Σ trans[s_{t-1}][s_t] + Σ emit[s_t][o_t],
    maximized. Max-plus DP with multiplicity."""
    ns = len(start)
    if not obs:
        raise ValueError("empty observations")
    cur = [(start[s] + emit[s][obs[0]], 1) for s in range(ns)]
    for o in obs[1:]:
        nxt = []
        for s in range(ns):
            best, cnt = None, 0
            for p in range(ns):
                sc = cur[p][0] + trans[p][s]
                if best is None or sc > best:
                    best, cnt = sc, cur[p][1]
                elif sc == best:
                    cnt += cur[p][1]
            nxt.append((best + emit[s][o], cnt))
        cur = nxt
    best = max(sc for sc, _ in cur)
    cnt = sum(c for sc, c in cur if sc == best)
    return best, cnt


def huffman_total_bits(freqs: list[int]) -> int:
    """Total encoded size Σ freq·len of an optimal binary prefix code
    (Huffman 1952). The SUM is invariant across every optimal code —
    tie-breaks change the tree, never the cost — which is exactly what
    makes it oracle-checkable without pinning a tie rule. Classic
    two-queue O(n log n) construction; the cost accumulates as the sum
    of all internal-node weights."""
    import heapq

    if len(freqs) == 1:
        return freqs[0]  # single symbol: 1 bit each, len = 1
    h = list(freqs)
    heapq.heapify(h)
    total = 0
    while len(h) > 1:
        a = heapq.heappop(h)
        b = heapq.heappop(h)
        total += a + b
        heapq.heappush(h, a + b)
    return total


def jenks_cost(values: list[int], k: int) -> tuple[int, int]:
    """Optimal contiguous k-partition of SORTED integer values under
    the integer-scaled within-class cost count·Σx² − (Σx)² (count×SSD
    — exact in int64, so optimality comparisons never touch floats;
    the Jenks/Fisher natural-breaks DP in its exact form). Returns
    (best total cost, number of optimal partitions)."""
    xs = sorted(values)
    n = len(xs)
    if not 1 <= k <= n:
        raise ValueError("need 1 <= k <= n")
    ps = [0] * (n + 1)
    pq = [0] * (n + 1)
    for i, x in enumerate(xs):
        ps[i + 1] = ps[i] + x
        pq[i + 1] = pq[i] + x * x

    def cost(i, j):  # class covering xs[i..j] inclusive
        c = j - i + 1
        s = ps[j + 1] - ps[i]
        q = pq[j + 1] - pq[i]
        return c * q - s * s

    big = 1 << 62
    # dp[c][j] = (best cost, multiplicity) for first j values in c classes
    dp = [[(big, 0)] * (n + 1) for _ in range(k + 1)]
    dp[0][0] = (0, 1)
    for c in range(1, k + 1):
        for j in range(c, n + 1):
            best, cnt = big, 0
            for i in range(c - 1, j):
                prev, pcnt = dp[c - 1][i]
                if prev >= big:
                    continue
                tot = prev + cost(i, j - 1)
                if tot < best:
                    best, cnt = tot, pcnt
                elif tot == best:
                    cnt += pcnt
            dp[c][j] = (best, cnt)
    return dp[k][n]


def lcs_len(a: list, b: list) -> int:
    """Longest-common-subsequence length, classic iterative DP
    (rolling row) — the ROUGE-L kernel."""
    if not a or not b:
        return 0
    prev = [0] * (len(b) + 1)
    for x in a:
        cur = [0]
        for j, y in enumerate(b, 1):
            cur.append(prev[j - 1] + 1 if x == y
                       else max(prev[j], cur[j - 1]))
        prev = cur
    return prev[-1]


def convex_hull(points: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Andrew's monotone chain on INTEGER coordinates (exact cross
    products, no epsilon): returns hull vertices in counter-clockwise
    order starting from the lexicographically smallest point;
    collinear boundary points are excluded (strict turns only)."""
    pts = sorted(set(points))
    if len(pts) <= 2:
        return pts

    def cross(o, a, b):
        return ((a[0] - o[0]) * (b[1] - o[1])
                - (a[1] - o[1]) * (b[0] - o[0]))

    lower: list[tuple[int, int]] = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list[tuple[int, int]] = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def gale_shapley(prop_prefs: list[list[int]],
                 acc_prefs: list[list[int]]) -> list[int]:
    """Proposer-optimal stable matching (Gale–Shapley 1962): returns
    match[p] = acceptor index. The result is the UNIQUE proposer-
    optimal stable matching (every proposer does at least as well as
    in any other stable matching) — the invariant the battery oracle
    verifies by enumerating ALL stable matchings."""
    n = len(prop_prefs)
    rank = [[0] * n for _ in range(n)]
    for a in range(n):
        for r, p in enumerate(acc_prefs[a]):
            rank[a][p] = r
    next_pick = [0] * n
    engaged_to = [-1] * n   # acceptor -> proposer
    match = [-1] * n        # proposer -> acceptor
    free = list(range(n - 1, -1, -1))
    while free:
        p = free.pop()
        a = prop_prefs[p][next_pick[p]]
        next_pick[p] += 1
        cur = engaged_to[a]
        if cur < 0:
            engaged_to[a] = p
            match[p] = a
        elif rank[a][p] < rank[a][cur]:
            engaged_to[a] = p
            match[p] = a
            match[cur] = -1
            free.append(cur)
        else:
            free.append(p)
    return match


def closest_pair_d2(points: list[tuple[int, int]]) -> tuple[int, int]:
    """(min squared distance, number of unordered pairs achieving it)
    via the classic divide-and-conquer (strip refinement) on exact
    integers. The battery oracle brute-forces all O(n²) pairs."""
    pts = sorted(set(points))
    n = len(pts)
    if n < 2:
        raise ValueError("need >= 2 distinct points")

    def d2(a, b):
        return (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2

    best = None
    cnt = 0

    def consider(a, b):
        nonlocal best, cnt
        v = d2(a, b)
        if best is None or v < best:
            best, cnt = v, 1
        elif v == best:
            cnt += 1

    def rec(lo, hi):
        if hi - lo <= 3:
            for i in range(lo, hi):
                for j in range(i + 1, hi):
                    consider(pts[i], pts[j])
            return
        mid = (lo + hi) // 2
        mx = pts[mid][0]
        rec(lo, mid)
        rec(mid, hi)
        # side by INDEX half (x ties at the split would fool an
        # x-based side test); only cross-side pairs are new here —
        # same-side pairs were already counted in the recursions
        strip = [(p[1], p[0], i < mid)
                 for i in range(lo, hi)
                 for p in (pts[i],)
                 if best is None or (p[0] - mx) ** 2 <= best]
        strip.sort()
        for i, (ay, ax, aside) in enumerate(strip):
            for by, bx, bside in strip[i + 1:]:
                if best is not None and (by - ay) ** 2 > best:
                    break
                if aside != bside:
                    consider((ax, ay), (bx, by))
        return

    rec(0, n)
    return best, cnt
