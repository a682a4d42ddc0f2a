"""Spark-free timings of the ``geometry`` kernels on seeded inputs.

The inputs are the geo_join generator's points and polygons at fixed
sizes, so these figures are comparable across workloads; each kernel
runs ``REPEATS`` times and the median is kept.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from . import gen

N_POINTS = 50_000
N_POLYGONS = 5_000
REPEATS = 5

METRICS = (
    "geometry.parse_wkb.coords_per_s",
    "geometry.pairwise_contains.pairs_per_s",
    "geometry.curves.hilbert_from_bounds.keys_per_s",
    "geometry.wkb.points_to_wkb.rows_per_s",
)


def _bbox_candidates(px, py, bounds):
    """(polygon, point) index pairs whose point lies in the polygon bbox."""
    order = np.argsort(px, kind="stable")
    sx = px[order]
    polys, pts = [], []
    for j, (x0, y0, x1, y1) in enumerate(bounds):
        lo, hi = np.searchsorted(sx, [x0, x1])
        cand = order[lo:hi]
        cand = cand[(py[cand] >= y0) & (py[cand] <= y1)]
        pts.append(cand)
        polys.append(np.full(len(cand), j, dtype=np.int64))
    return np.concatenate(polys), np.concatenate(pts)


def _timed(tracer, name: str, fn, work: float) -> float:
    """Median work-per-second of ``fn`` over REPEATS spans."""
    rates = []
    for _ in range(REPEATS):
        with tracer.span(name, spark=False) as s:
            fn()
        s.counts["work"] = work
        rates.append(work / s.wall_s)
    return statistics.median(rates)


def measure(seed: int, tracer) -> dict:
    from dask_geopandas_spark.geometry import algorithms, curves, wkb

    rng = np.random.default_rng([seed, 5])
    pts = gen.make_points(rng, N_POINTS)
    polys = gen.make_polygons(rng, N_POLYGONS)
    poly_wkb = [gen.polygon_wkb(p) for p in polys["parts"]]
    pt_wkb = gen.points_wkb(pts["x"], pts["y"])
    n_coords = sum(len(r) + 1 for ps in polys["parts"] for r in ps)

    pj, pi = _bbox_candidates(pts["x"], pts["y"],
                              gen.polygon_bounds(polys["parts"]))
    a = wkb.parse_wkb([poly_wkb[j] for j in pj])
    b = wkb.parse_wkb([pt_wkb[i] for i in pi])
    x, y = pts["x"], pts["y"]

    return {
        "geometry.parse_wkb.coords_per_s": _timed(
            tracer, "geometry.parse_wkb", lambda: wkb.parse_wkb(poly_wkb),
            n_coords),
        "geometry.pairwise_contains.pairs_per_s": _timed(
            tracer, "geometry.algorithms.pairwise_contains",
            lambda: algorithms.pairwise_contains(a, b), len(pj)),
        "geometry.curves.hilbert_from_bounds.keys_per_s": _timed(
            tracer, "geometry.curves.hilbert_from_bounds",
            lambda: curves.hilbert_from_bounds(x, y, x, y, gen.EXTENT),
            N_POINTS),
        "geometry.wkb.points_to_wkb.rows_per_s": _timed(
            tracer, "geometry.wkb.points_to_wkb",
            lambda: wkb.points_to_wkb(x, y), N_POINTS),
    }
