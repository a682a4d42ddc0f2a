"""The four benchmark workloads.

Each workload generates its inputs from the seed when it is built
(untimed), computes its correctness reference from the generated arrays,
and then runs closed-loop iterations against a Spark session: the next
iteration starts only after the previous one's final action returned.

Every call into the package sits in a tracer span named after the
package module it enters.  In a traced iteration the output of a lazy
operator is materialised inside its own span (``cache`` + ``count``),
so the span holds that operator's Spark work; an untraced iteration
runs the plain pipeline with one final action.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from . import checks, gen

# spans whose total wall time is reported as "<span name>.s"
TIMED_SPANS = (
    "core.spatial_shuffle", "operators.sjoin",
    "operators.dedup.lsh_candidate_pairs", "operators.dedup.cluster_dedup",
    "sources.to_parquet", "sources.to_flatgeobuf",
    "sources.read_parquet", "sources.read_flatgeobuf",
)

# per-layer figures a workload derives from its own spans and output,
# with their units; a workload that does not exercise a layer reports 0
LAYER_METRICS = {
    "operators.sjoin.candidate_pairs": "count",
    "operators.sjoin.matches": "count",
    "operators.sjoin.refine_ratio": "ratio",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.cluster_dedup.jobs": "count",
    "operators.dedup.kept_ratio": "ratio",
    "sources.bytes_per_row": "B/row",
    "sources.files_written": "count",
    "sources.scan_ratio": "ratio",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
}


def span_seconds(spans: list) -> dict:
    m = {f"{n}.s": _span_total(spans, n) for n in TIMED_SPANS}
    m["sources.write_s"] = m["sources.to_parquet.s"] + m["sources.to_flatgeobuf.s"]
    m["sources.read_s"] = m["sources.read_parquet.s"] + m["sources.read_flatgeobuf.s"]
    return m


def _span_total(spans: list, name: str, key: str | None = None) -> float:
    return sum((s.wall_s if key is None else s.counts.get(key, 0.0))
               for s in spans if s.name == name)


def _materialise(df, traced: bool):
    """Traced iterations force a lazy operator's output inside its span."""
    if traced:
        df = df.cache()
        df.count()
    return df


def _release(*frames) -> None:
    for f in frames:
        getattr(f, "df", f).unpersist()


class Workload:
    name = ""
    input_rows = 0

    def __init__(self, seed: int, workdir: str):
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

    def sizes(self) -> dict:
        raise NotImplementedError

    def prepare(self, spark, dgs) -> None:
        """Per-session set-up (timed as part of ``setup_s``)."""

    def reference(self, spark, dgs) -> None:
        """Correctness reference that needs the session (untimed)."""

    def iteration(self, spark, dgs, tracer, i: int):
        raise NotImplementedError

    def check(self, result) -> bool:
        raise NotImplementedError

    def batch_latencies(self, result, wall_s: float) -> list:
        """Latency of each unit the client waits for; one batch workload
        iteration is one batch."""
        return [wall_s]

    def layer_metrics(self, spans: list, result) -> dict:
        return {}

    def _iter_dir(self, i: int) -> str:
        d = os.path.join(self.workdir, "iter", str(i))
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def after_iteration(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.workdir, "iter", str(i)),
                      ignore_errors=True)


# ---------------------------------------------------------------------------
class GeoJoin(Workload):
    """Points within convex polygons: read_parquet -> spatial_shuffle
    (hilbert) on both sides -> sjoin(within) -> per-group count/sum."""

    name = "geo_join"
    # at this size the fixed cost of an iteration (its jobs and actions,
    # about 0.9 s with 1k x 100 inputs on 4 cores) is about a fifth of
    # its wall time; the rest is the shuffle, the Arrow boundary and the
    # containment kernel
    N_POINTS = 100_000
    N_POLYGONS = 10_000

    def __init__(self, seed: int, workdir: str):
        super().__init__(seed, workdir)
        rng = np.random.default_rng([seed, 1])
        self.points = gen.make_points(rng, self.N_POINTS)
        self.polys = gen.make_polygons(rng, self.N_POLYGONS)
        self.points_path = os.path.join(workdir, "points.parquet")
        self.polys_path = os.path.join(workdir, "polygons.parquet")
        cols, geoms, bbox = gen.points_table(self.points)
        gen.write_geoparquet(self.points_path, cols, geoms, ["Point"], bbox)
        cols, geoms, bbox = gen.polygons_table(self.polys)
        gen.write_geoparquet(self.polys_path, cols, geoms,
                             ["Polygon", "MultiPolygon"], bbox)
        self.want = checks.geo_join_reference(self.points, self.polys)
        self.input_rows = self.N_POINTS

    def sizes(self) -> dict:
        return {"points": self.N_POINTS, "polygons": self.N_POLYGONS}

    def iteration(self, spark, dgs, tracer, i):
        from pyspark.sql import functions as F

        traced = tracer.enabled
        with tracer.span("sources.read_parquet") as s:
            pts = dgs.read_parquet(spark, self.points_path)
            polys = dgs.read_parquet(spark, self.polys_path)
            s.planned()
        with tracer.span("core.spatial_shuffle") as s:
            pts = pts.spatial_shuffle(by="hilbert")
            polys = polys.spatial_shuffle(by="hilbert")
            s.planned()
            pts = _materialise(pts, traced)
            polys = _materialise(polys, traced)
        with tracer.span("operators.sjoin") as s:
            joined = dgs.sjoin(pts, polys, predicate="within")
            agg = joined.df.groupBy("grp").agg(
                F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
            s.planned()
            rows = agg.collect()
        if traced:
            _release(pts, polys)
        return {int(r["grp"]): (int(r["n"]), float(r["v"])) for r in rows}

    def check(self, result) -> bool:
        return checks.geo_join_matches(result, self.want)

    def layer_metrics(self, spans, result):
        cand = _span_total(spans, "operators.sjoin", "sql.join_rows")
        matches = float(sum(n for n, _ in result.values()))
        return {
            "operators.sjoin.candidate_pairs": cand,
            "operators.sjoin.matches": matches,
            "operators.sjoin.refine_ratio": matches / cand if cand else 0.0,
        }


# ---------------------------------------------------------------------------
class GeoIO(Workload):
    """Writes then reads of a point layer: to_parquet and to_flatgeobuf,
    then read_parquet + cx and read_flatgeobuf(bbox) + cx, each read
    aggregated over the window."""

    name = "geo_io"
    N_POINTS = 100_000
    N_FILES = 4
    WINDOW = (60.0, 30.0)  # width, height of the query window

    def __init__(self, seed: int, workdir: str):
        super().__init__(seed, workdir)
        rng = np.random.default_rng([seed, 2])
        self.points = gen.make_points(rng, self.N_POINTS)
        x0, y0, x1, y1 = gen.EXTENT
        w, h = self.WINDOW
        wx, wy = rng.uniform(x0, x1 - w), rng.uniform(y0, y1 - h)
        self.window = (wx, wy, wx + w, wy + h)
        self.src_path = os.path.join(workdir, "points")
        os.makedirs(self.src_path, exist_ok=True)
        cols, geoms, bbox = gen.points_table(self.points)
        step = -(-self.N_POINTS // self.N_FILES)
        for k in range(self.N_FILES):
            sl = slice(k * step, (k + 1) * step)
            gen.write_geoparquet(
                os.path.join(self.src_path, f"part-{k}.parquet"),
                {c: v[sl] for c, v in cols.items()}, geoms[sl], ["Point"],
                bbox)
        self.want = checks.window_reference(self.points, self.window)
        self.input_rows = self.N_POINTS

    def sizes(self) -> dict:
        return {"points": self.N_POINTS, "files": self.N_FILES,
                "window_rows": self.want[0]}

    def prepare(self, spark, dgs):
        self.src = dgs.read_parquet(spark, self.src_path).cache()
        self.src.count()

    def _window_agg(self, gdf):
        from pyspark.sql import functions as F

        r = gdf.cx(*self.window).df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"),
            F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
        return (int(r["n"]), float(r["s"] or 0.0),
                float(r["lo"] or 0.0), float(r["hi"] or 0.0))

    def iteration(self, spark, dgs, tracer, i):
        d = self._iter_dir(i)
        pq_path, fgb_path = os.path.join(d, "pq"), os.path.join(d, "fgb")
        with tracer.span("sources.to_parquet"):
            self.src.to_parquet(pq_path)
        with tracer.span("sources.to_flatgeobuf"):
            dgs.to_flatgeobuf(self.src, fgb_path)
        with tracer.span("sources.read_parquet") as s:
            g = dgs.read_parquet(spark, pq_path)
            s.planned()
            from_pq = self._window_agg(g)
        with tracer.span("sources.read_flatgeobuf") as s:
            g = dgs.read_flatgeobuf(spark, fgb_path, bbox=self.window)
            s.planned()
            from_fgb = self._window_agg(g)
        stored = {"bytes": 0, "files": 0}
        if tracer.enabled:
            for root in (pq_path, fgb_path):
                for f in os.listdir(root):
                    if f.endswith((".parquet", ".fgb")):
                        stored["files"] += 1
                        stored["bytes"] += os.path.getsize(os.path.join(root, f))
        return {"parquet": from_pq, "flatgeobuf": from_fgb, "stored": stored}

    def check(self, result) -> bool:
        return (checks.window_matches(result["parquet"], self.want)
                and checks.window_matches(result["flatgeobuf"], self.want))

    def layer_metrics(self, spans, result):
        m = {}
        m["sources.bytes_per_row"] = result["stored"]["bytes"] / self.N_POINTS
        m["sources.files_written"] = float(result["stored"]["files"])
        # rows each read decoded (parquet scan rows, FlatGeobuf parse rows)
        # per row actually inside the window
        scanned = (_span_total(spans, "sources.read_parquet", "sql.scan_rows")
                   + _span_total(spans, "sources.read_flatgeobuf",
                                 "arrow.rows_from_python"))
        m["sources.scan_ratio"] = scanned / (2.0 * max(self.want[0], 1))
        return m


# ---------------------------------------------------------------------------
class CorpusDedup(Workload):
    """Near-duplicate corpus: lsh_candidate_pairs -> cluster_dedup
    (connected components), survivors collected."""

    name = "corpus_dedup"
    N_DOCS = 20_000

    def __init__(self, seed: int, workdir: str):
        super().__init__(seed, workdir)
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng([seed, 3])
        corpus = gen.make_corpus(rng, self.N_DOCS)
        self.path = os.path.join(workdir, "corpus.parquet")
        pq.write_table(pa.table({"doc_id": corpus["doc_id"],
                                 "text": corpus["text"]}), self.path)
        self.keep, self.duplicates = checks.planted_survivors(corpus["cluster"])
        self.want = None
        self.input_rows = self.N_DOCS

    def sizes(self) -> dict:
        return {"docs": self.N_DOCS, "planted_duplicates": len(self.duplicates)}

    def reference(self, spark, dgs):
        """Union-find over the package's own candidate pairs; ``check``
        also holds each iteration to the generator's planted clusters,
        so a fault in the pairs cannot move the reference with it."""
        from dask_geopandas_spark.operators import dedup

        docs = spark.read.parquet(self.path)
        pairs = [(r[0], r[1]) for r in
                 dedup.lsh_candidate_pairs(docs).collect()]
        dedup.release_cached_signatures()
        self.n_pairs = len(pairs)
        self.want = checks.union_find_survivors(self.N_DOCS, pairs)

    def iteration(self, spark, dgs, tracer, i):
        from dask_geopandas_spark.operators import dedup

        docs = spark.read.parquet(self.path)
        with tracer.span("operators.dedup.lsh_candidate_pairs") as s:
            pairs = dedup.lsh_candidate_pairs(docs)
            s.planned()
            pairs = _materialise(pairs, tracer.enabled)
        n_pairs = pairs.count() if tracer.enabled else None
        with tracer.span("operators.dedup.cluster_dedup") as s:
            kept = dedup.cluster_dedup(docs, pairs)
            s.planned()
            ids = [r[0] for r in kept.select("doc_id").collect()]
        dedup.release_cached_signatures()
        if tracer.enabled:
            _release(pairs)
        return {"ids": ids, "pairs": n_pairs}

    def check(self, result) -> bool:
        return (checks.survivors_match(result["ids"], self.want)
                and checks.planted_collapsed(result["ids"], self.keep,
                                             self.duplicates))

    def layer_metrics(self, spans, result):
        return {
            "operators.dedup.candidate_pairs": float(result["pairs"]),
            "operators.dedup.cluster_dedup.jobs":
                _span_total(spans, "operators.dedup.cluster_dedup", "spark.jobs"),
            "operators.dedup.kept_ratio": len(result["ids"]) / self.N_DOCS,
        }


# ---------------------------------------------------------------------------
class GeofenceStream(Workload):
    """Event files replayed as availableNow micro-batches (one file per
    trigger) through windowed_geofence_counts against convex fences;
    the iteration is the full drain, append mode."""

    name = "geofence_stream"
    N_FILES = 3
    PER_FILE = 20_000
    N_FENCES = 1_000
    WINDOW_US = 3_600_000_000      # "1 hour"
    WATERMARK_US = 7_200_000_000   # "2 hours"

    def __init__(self, seed: int, workdir: str):
        super().__init__(seed, workdir)
        rng = np.random.default_rng([seed, 4])
        self.batches = gen.make_events(rng, self.N_FILES, self.PER_FILE)
        self.fences = gen.make_polygons(rng, self.N_FENCES)
        self.events_dir = os.path.join(workdir, "events")
        gen.write_events(self.events_dir, self.batches)
        self.fences_path = os.path.join(workdir, "fences.parquet")
        _, geoms, bbox = gen.polygons_table(self.fences)
        gen.write_geoparquet(self.fences_path, {"fid": self.fences["id"]},
                             geoms, ["Polygon", "MultiPolygon"], bbox)
        self.want = checks.geofence_reference(
            self.batches, self.fences, self.WINDOW_US, self.WATERMARK_US)
        self.input_rows = self.N_FILES * self.PER_FILE

    def sizes(self) -> dict:
        return {"files": self.N_FILES, "events_per_file": self.PER_FILE,
                "fences": self.N_FENCES, "closed_cells": len(self.want)}

    def prepare(self, spark, dgs):
        self.fence_layer = dgs.read_parquet(spark, self.fences_path)
        self.schema = spark.read.parquet(self.events_dir).schema

    def iteration(self, spark, dgs, tracer, i):
        from pyspark.sql import functions as F

        from dask_geopandas_spark.streaming.geo import windowed_geofence_counts

        d = self._iter_dir(i)
        sink = f"perfbench_fence_{i}"
        with tracer.span("streaming.windowed_geofence_counts") as s:
            events = (spark.readStream.schema(self.schema)
                      .option("maxFilesPerTrigger", 1)
                      .parquet(self.events_dir))
            agg = windowed_geofence_counts(events, self.fence_layer,
                                           "ex", "ey", "fid")
            s.planned()
            q = (agg.writeStream.format("memory").queryName(sink)
                 .outputMode("append")
                 .option("checkpointLocation", os.path.join(d, "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            s.add_group(str(q.runId))
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = q.recentProgress
        rows = spark.table(sink).select(
            F.unix_micros("window_start").alias("w"), "fid",
            "n_events").collect()
        spark.catalog.dropTempView(sink)
        return {"counts": {(int(r["w"]), int(r["fid"])): int(r["n_events"])
                           for r in rows},
                "progress": progress}

    def check(self, result) -> bool:
        return checks.geofence_matches(result["counts"], self.want)

    def batch_latencies(self, result, wall_s):
        return [p["durationMs"]["triggerExecution"] / 1e3
                for p in result["progress"] if p["numInputRows"] > 0]

    def layer_metrics(self, spans, result):
        prog = result["progress"]

        def dur(key):
            return sum(p["durationMs"].get(key, 0) for p in prog) / 1e3

        state = [op for p in prog for op in p.get("stateOperators", [])]
        return {
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.commit_offsets_s": dur("commitOffsets"),
            "streaming.state_rows": float(max(
                (op["numRowsTotal"] for op in state), default=0)),
            "streaming.state_memory_bytes": float(max(
                (op["memoryUsedBytes"] for op in state), default=0)),
        }


WORKLOADS = {w.name: w for w in (GeoJoin, GeoIO, CorpusDedup, GeofenceStream)}
