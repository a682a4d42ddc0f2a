"""Independent references for the benchmark's correctness checks.

Each reference is computed from the generated arrays with numpy or plain
Python, never with the package under test, and before any timed
iteration.  Each ``*_matches`` function compares one iteration's output
with its reference and returns False on any difference.
"""

from __future__ import annotations

import numpy as np

REL_TOL = 1e-9


def _inside_convex(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Points strictly left of every edge of an open CCW convex ring."""
    ax, ay = ring[:, 0], ring[:, 1]
    bx, by = np.roll(ax, -1), np.roll(ay, -1)
    cross = ((bx - ax)[None, :] * (py[:, None] - ay[None, :])
             - (by - ay)[None, :] * (px[:, None] - ax[None, :]))
    return (cross > 0).all(axis=1)


def containing_pairs(px: np.ndarray, py: np.ndarray, parts: list):
    """(point index, polygon index) for every point inside a polygon
    (inside any part of a MultiPolygon).  Points are swept in x order,
    so each part tests only the points in its x range."""
    order = np.argsort(px, kind="stable")
    sx, sy = px[order], py[order]
    pts, polys = [], []
    for j, ps in enumerate(parts):
        hit = []
        for ring in ps:
            lo, hi = np.searchsorted(sx, [ring[:, 0].min(), ring[:, 0].max()])
            cand = np.arange(lo, hi)
            cand = cand[(sy[cand] >= ring[:, 1].min())
                        & (sy[cand] <= ring[:, 1].max())]
            hit.append(cand[_inside_convex(sx[cand], sy[cand], ring)])
        idx = np.unique(np.concatenate(hit)) if len(hit) > 1 else hit[0]
        pts.append(order[idx])
        polys.append(np.full(len(idx), j, dtype=np.int64))
    return np.concatenate(pts), np.concatenate(polys)


# ---------------------------------------------------------------------------
# geo_join: per-group count and value sum of (point within polygon) pairs
# ---------------------------------------------------------------------------
def geo_join_reference(points: dict, polys: dict) -> dict:
    pi, gi = containing_pairs(points["x"], points["y"], polys["parts"])
    grp = polys["grp"][gi]
    out = {}
    for g in np.unique(grp):
        m = grp == g
        out[int(g)] = (int(m.sum()), float(points["value"][pi[m]].sum()))
    return out


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def geo_join_matches(got: dict, want: dict) -> bool:
    return (got.keys() == want.keys()
            and all(got[k][0] == want[k][0] and _close(got[k][1], want[k][1])
                    for k in want))


# ---------------------------------------------------------------------------
# geo_io: count / sum / min / max of value over a closed bbox window
# ---------------------------------------------------------------------------
def window_reference(points: dict, window) -> tuple:
    x0, y0, x1, y1 = window
    m = ((points["x"] >= x0) & (points["x"] <= x1)
         & (points["y"] >= y0) & (points["y"] <= y1))
    v = points["value"][m]
    return int(m.sum()), float(v.sum()), float(v.min()), float(v.max())


def window_matches(got: tuple, want: tuple) -> bool:
    return (got[0] == want[0] and _close(got[1], want[1])
            and got[2] == want[2] and got[3] == want[3])


# ---------------------------------------------------------------------------
# corpus_dedup: survivors of a union-find over the candidate pairs
# ---------------------------------------------------------------------------
def union_find_survivors(n_docs: int, pairs) -> set:
    """Every doc except those with a smaller id in their component."""
    parent = list(range(n_docs))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in range(n_docs) if find(i) == i}


def survivors_match(got, want: set) -> bool:
    got = list(got)
    return len(got) == len(want) and set(got) == want


# LSH misses a few planted pairs by design (about 5 % at the corpus's edit
# rate); losing many more means the candidate pairs themselves are wrong
MIN_PLANTED_REMOVED = 0.9


def planted_survivors(cluster: np.ndarray) -> tuple:
    """From the generator's planted clusters (``cluster[doc]`` is the
    doc's cluster label, -1 outside any cluster): the docs every correct
    dedup keeps (each doc outside a cluster and each cluster's smallest
    id) and the planted duplicates it should remove."""
    ids = np.arange(len(cluster))
    planted = cluster >= 0
    first = {}
    for doc, c in zip(ids[planted].tolist(), cluster[planted].tolist()):
        first[c] = min(doc, first.get(c, doc))
    keep = set(ids[~planted].tolist()) | set(first.values())
    return keep, set(ids[planted].tolist()) - keep


def planted_collapsed(got, keep: set, duplicates: set,
                      min_removed: float = MIN_PLANTED_REMOVED) -> bool:
    """Every doc that must stay stayed, and at least ``min_removed`` of
    the planted duplicates are gone."""
    got = set(got)
    return keep <= got and (len(duplicates - got)
                            >= min_removed * len(duplicates))


# ---------------------------------------------------------------------------
# geofence_stream: per (fence, window) counts of windows the watermark closed
# ---------------------------------------------------------------------------
def geofence_reference(batches: list, fences: dict, window_us: int,
                       watermark_us: int) -> dict:
    x = np.concatenate([b["ex"] for b in batches])
    y = np.concatenate([b["ey"] for b in batches])
    ts = np.concatenate([b["ts"] for b in batches])
    closed_before = ts.max() - watermark_us  # the final watermark
    pi, fi = containing_pairs(x, y, fences["parts"])
    wstart = ts[pi] // window_us * window_us
    keep = wstart + window_us <= closed_before
    keys, counts = np.unique(
        np.column_stack([wstart[keep], fences["id"][fi[keep]]]),
        axis=0, return_counts=True)
    return {(int(w), int(f)): int(c) for (w, f), c in zip(keys, counts)}


def geofence_matches(got: dict, want: dict) -> bool:
    return got == want
