"""Seeded input generation for the benchmark workloads.

Everything here uses numpy and pyarrow only, so the package under test
never produces its own inputs.  The same seed gives byte-identical
files; the sizes are fixed per workload, so seeds vary content only.

Geometry follows FIXTURES.md T1/T2: points uniform over
(-170, 170) x (-80, 80); convex polygons with 3-12 vertices on a circle
of radius uniform(0.1, 5.0), every 10th row a 2-part MultiPolygon made
of a disjoint translated copy.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXTENT = (-170.0, -80.0, 170.0, 80.0)
N_GROUPS = 8

POINT, POLYGON, MULTIPOLYGON = 1, 3, 6


# ---------------------------------------------------------------------------
# WKB encoding (little endian, 2D)
# ---------------------------------------------------------------------------
def points_wkb(x: np.ndarray, y: np.ndarray) -> list:
    n = len(x)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1:5] = np.frombuffer(struct.pack("<I", POINT), dtype=np.uint8)
    buf[:, 5:13] = np.ascontiguousarray(x, "<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = np.ascontiguousarray(y, "<f8").view(np.uint8).reshape(n, 8)
    return [r.tobytes() for r in buf]


def _polygon_wkb(ring: np.ndarray) -> bytes:
    closed = np.vstack([ring, ring[:1]])
    return (struct.pack("<BIII", 1, POLYGON, 1, len(closed))
            + np.ascontiguousarray(closed, "<f8").tobytes())


def polygon_wkb(parts: list) -> bytes:
    """One Polygon (a single part) or a MultiPolygon (several parts);
    each part is an open (k, 2) ring, closed on encoding."""
    if len(parts) == 1:
        return _polygon_wkb(parts[0])
    return (struct.pack("<BII", 1, MULTIPOLYGON, len(parts))
            + b"".join(_polygon_wkb(p) for p in parts))


# ---------------------------------------------------------------------------
# layers as numpy arrays
# ---------------------------------------------------------------------------
def make_points(rng: np.random.Generator, n: int) -> dict:
    x0, y0, x1, y1 = EXTENT
    return {
        "id": np.arange(n, dtype=np.int64),
        "x": rng.uniform(x0, x1, n),
        "y": rng.uniform(y0, y1, n),
        "value": np.round(rng.uniform(0.0, 100.0, n), 3),
        "cat": rng.integers(0, 16, n).astype(np.int32),
    }


def make_polygons(rng: np.random.Generator, n: int,
                  r_lo: float = 0.1, r_hi: float = 5.0) -> dict:
    """Convex polygons as vertex lists.  ``parts[i]`` is a list of open
    CCW rings, so the point-in-convex test is "left of every edge"."""
    x0, y0, x1, y1 = EXTENT
    cx = rng.uniform(x0, x1, n)
    cy = rng.uniform(y0, y1, n)
    r = rng.uniform(r_lo, r_hi, n)
    k = rng.integers(3, 13, n)
    parts = []
    for i in range(n):
        ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, k[i]))
        ring = np.column_stack([cx[i] + r[i] * np.cos(ang),
                                cy[i] + r[i] * np.sin(ang)])
        if i % 10 == 9:
            # disjoint copy shifted toward the middle of the extent
            dx = -np.sign(cx[i]) * (2.0 * r[i] + 0.5)
            parts.append([ring, ring + np.array([dx, 0.0])])
        else:
            parts.append([ring])
    return {
        "id": np.arange(n, dtype=np.int64),
        "grp": rng.integers(0, N_GROUPS, n).astype(np.int32),
        "parts": parts,
    }


def polygon_bounds(parts: list) -> np.ndarray:
    out = np.empty((len(parts), 4))
    for i, ps in enumerate(parts):
        allv = np.vstack(ps)
        out[i] = (allv[:, 0].min(), allv[:, 1].min(),
                  allv[:, 0].max(), allv[:, 1].max())
    return out


def make_corpus(rng: np.random.Generator, n_docs: int,
                dup_share: float = 0.1, edit_share: float = 0.05,
                vocab: int = 50_000, lo: int = 30, hi: int = 60) -> dict:
    """Documents of random vocabulary words.  A ``dup_share`` of them are
    near-duplicates: each copies an earlier base document with
    ``edit_share`` of its tokens replaced, in clusters of 2-3 members.
    Three members keep every component's diameter at most 2, so the
    number of label-propagation rounds, and with it the job count, does
    not depend on the seed; larger clusters make it vary."""
    words = np.array([f"w{i}" for i in range(vocab)])
    docs: list = [None] * n_docs
    cluster = np.full(n_docs, -1, dtype=np.int64)
    i = 0
    n_dup_target = int(n_docs * dup_share)
    n_dups = 0
    order = rng.permutation(n_docs)  # doc ids of cluster members scatter
    while i < n_docs:
        base = rng.integers(0, vocab, rng.integers(lo, hi + 1))
        size = int(rng.integers(2, 4)) if n_dups < n_dup_target else 1
        size = min(size, n_docs - i)
        for m in range(size):
            toks = base.copy()
            if m:
                n_edit = max(1, int(round(edit_share * len(toks))))
                pos = rng.choice(len(toks), n_edit, replace=False)
                toks[pos] = rng.integers(0, vocab, n_edit)
                n_dups += 1
            doc_id = int(order[i])
            docs[doc_id] = " ".join(words[toks])
            if size > 1:
                cluster[doc_id] = int(order[i - m])
            i += 1
    return {"doc_id": np.arange(n_docs, dtype=np.int64),
            "text": docs, "cluster": cluster}


def make_events(rng: np.random.Generator, n_files: int, per_file: int,
                file_hours: int = 6, t0_us: int = 1_704_067_200_000_000) -> list:
    """``n_files`` event batches; file k covers event times
    [k, k+1) * file_hours after ``t0_us``, so with a watermark shorter
    than ``file_hours`` no event arrives late."""
    x0, y0, x1, y1 = EXTENT
    span = file_hours * 3_600_000_000
    out = []
    for f in range(n_files):
        ts = t0_us + f * span + np.sort(rng.integers(0, span, per_file))
        out.append({
            "event_id": np.arange(f * per_file, (f + 1) * per_file,
                                  dtype=np.int64),
            "ts": ts.astype(np.int64),
            "ex": rng.uniform(x0, x1, per_file),
            "ey": rng.uniform(y0, y1, per_file),
        })
    return out


# ---------------------------------------------------------------------------
# files
# ---------------------------------------------------------------------------
def _geo_meta(types: list, bbox) -> bytes:
    return json.dumps({
        "version": "1.0.0", "primary_column": "geometry",
        "columns": {"geometry": {
            "encoding": "WKB", "geometry_types": types,
            "crs": None, "bbox": [float(v) for v in bbox]}},
    }).encode()


def write_geoparquet(path: str, cols: dict, geoms: list, types: list,
                     bbox) -> None:
    """GeoParquet 1.0 file: a WKB ``geometry`` column and a ``geo`` footer."""
    arrays = {k: pa.array(v) for k, v in cols.items()}
    arrays["geometry"] = pa.array(geoms, type=pa.binary())
    table = pa.table(arrays)
    table = table.replace_schema_metadata({b"geo": _geo_meta(types, bbox)})
    pq.write_table(table, path)


def points_table(p: dict) -> tuple:
    cols = {k: p[k] for k in ("id", "value", "cat")}
    bbox = (p["x"].min(), p["y"].min(), p["x"].max(), p["y"].max())
    return cols, points_wkb(p["x"], p["y"]), bbox


def polygons_table(g: dict) -> tuple:
    b = polygon_bounds(g["parts"])
    bbox = (b[:, 0].min(), b[:, 1].min(), b[:, 2].max(), b[:, 3].max())
    geoms = [polygon_wkb(ps) for ps in g["parts"]]
    return {"pid": g["id"], "grp": g["grp"]}, geoms, bbox


def write_events(dirpath: str, batches: list) -> None:
    os.makedirs(dirpath, exist_ok=True)
    for k, b in enumerate(batches):
        table = pa.table({
            "event_id": pa.array(b["event_id"]),
            "ts": pa.array(b["ts"], type=pa.timestamp("us", tz="UTC")),
            "ex": pa.array(b["ex"]),
            "ey": pa.array(b["ey"]),
        })
        pq.write_table(table, os.path.join(dirpath, f"events-{k:03d}.parquet"))
