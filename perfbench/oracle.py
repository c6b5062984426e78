"""Independent output checks: string distances written from their
definitions, exact NumPy oracles for the numeric and vector joins, and
order-insensitive hashes of result rows."""

from __future__ import annotations

import hashlib

import numpy as np

TOL = 1e-9


# --------------------------------------------------------------------------
# hashes
# --------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def rows_hash(rows) -> str:
    """Hash of a multiset of rows, independent of row order."""
    lines = sorted(repr(tuple(_norm(v) for v in r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def partition_hash(assign: dict) -> str:
    """Canonical hash of a clustering {item: cluster label}: each item maps
    to the smallest item of its cluster, so any relabelling hashes equal."""
    smallest: dict = {}
    for item, lab in assign.items():
        if lab not in smallest or item < smallest[lab]:
            smallest[lab] = item
    return rows_hash((item, smallest[lab]) for item, lab in assign.items())


def pairwise_f1(pred: dict, truth: dict) -> float:
    """Pairwise F1 of clustering `pred` against `truth` (same item keys)."""
    from collections import Counter

    def pairs(counter):
        return sum(n * (n - 1) // 2 for n in counter.values())

    tp = pairs(Counter((pred[i], truth[i]) for i in truth))
    pp, tt = pairs(Counter(pred[i] for i in truth)), pairs(Counter(truth.values()))
    prec = tp / pp if pp else 1.0
    rec = tp / tt if tt else 1.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0


def link_f1(found: set, truth: set) -> float:
    tp = len(found & truth)
    prec = tp / len(found) if found else 1.0
    rec = tp / len(truth) if truth else 1.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0


# --------------------------------------------------------------------------
# string distances (fozziejoin definitions)
# --------------------------------------------------------------------------


def lv(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def osa(a: str, b: str) -> int:
    d = [[i + j if i * j == 0 else 0 for j in range(len(b) + 1)] for i in range(len(a) + 1)]
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            cost = a[i - 1] != b[j - 1]
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost)
            if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[-1][-1]


def jaccard(a: str, b: str, q: int) -> float:
    ga = {a[i:i + q] for i in range(len(a) - q + 1)}
    gb = {b[i:i + q] for i in range(len(b) - q + 1)}
    if not ga and not gb:
        return 0.0
    return 1.0 - len(ga & gb) / len(ga | gb)


def _deletions(s: str, k: int) -> set:
    """Every string made from `s` by deleting at most k characters."""
    out, frontier = {s}, {s}
    for _ in range(k):
        frontier = {t[:i] + t[i + 1:] for t in frontier for i in range(len(t))}
        out |= frontier
    return out


def edit_pairs(left: dict, right: dict, dist, k: int) -> dict:
    """{(left id, right id): d} for every pair with dist(a, b) <= k, for a
    distance whose unit edits (insert, delete, substitute, adjacent swap)
    each cost 1 and edit disjoint positions (lv, osa). Such a pair's
    k-deletion neighbourhoods meet: an insert is one deletion on the longer
    side, a substitution or a swap one deletion on each side. So every pair
    sharing a deletion variant is a candidate, and every candidate is
    verified with `dist` itself."""
    index: dict = {}
    for rid, b in right.items():
        for v in _deletions(b, k):
            index.setdefault(v, []).append(rid)
    out = {}
    for lid, a in left.items():
        cands = {rid for v in _deletions(a, k) for rid in index.get(v, ())}
        for rid in cands:
            d = dist(a, right[rid])
            if d <= k:
                out[(lid, rid)] = float(d)
    return out


def jaccard_pairs(left: dict, right: dict, q: int, tau: float) -> dict:
    """{(left id, right id): d} for every pair with jaccard(a, b, q) <= tau,
    by scoring all pairs whose gram-set sizes allow it."""
    def grams(s):
        return frozenset(s[i:i + q] for i in range(len(s) - q + 1))

    rg = [(rid, grams(b)) for rid, b in right.items()]
    out = {}
    for lid, a in left.items():
        ga = grams(a)
        for rid, gb in rg:
            if min(len(ga), len(gb)) < (1 - tau) * max(len(ga), len(gb)) - TOL:
                continue  # |A & B| / |A | B| <= min/max
            d = 1.0 - len(ga & gb) / len(ga | gb) if ga or gb else 0.0  # = jaccard(a, b, q)
            if d <= tau + TOL:
                out[(lid, rid)] = d
    return out


# --------------------------------------------------------------------------
# exact numeric / vector oracles
# --------------------------------------------------------------------------


def band_pairs(x: np.ndarray, y: np.ndarray, lo: float, hi: float) -> set:
    """All (i, j) with lo <= y[j] - x[i] <= hi, by sorting y once."""
    order = np.argsort(y, kind="stable")
    ys = y[order]
    out = set()
    starts = np.searchsorted(ys, x + lo, "left")
    ends = np.searchsorted(ys, x + hi, "right")
    for i in np.nonzero(ends > starts)[0]:
        for j in order[starts[i]:ends[i]]:
            out.add((int(i), int(j)))
    return out


def cosine_matrix(v: np.ndarray) -> np.ndarray:
    u = v / np.linalg.norm(v, axis=1, keepdims=True)
    return u @ u.T
