"""Tests of the benchmark harness itself (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

import json
import os

import numpy as np
import pytest

from perfbench import checks, gen, kernels, run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------
def _layers(seed):
    rng = np.random.default_rng([seed, 1])
    return (gen.make_points(rng, 500), gen.make_polygons(rng, 60),
            gen.make_corpus(rng, 300), gen.make_events(rng, 2, 200))


def test_generator_is_deterministic_per_seed():
    a, b, c = _layers(7), _layers(7), _layers(8)
    for k in a[0]:
        np.testing.assert_array_equal(a[0][k], b[0][k])
    assert [gen.polygon_wkb(p) for p in a[1]["parts"]] == \
        [gen.polygon_wkb(p) for p in b[1]["parts"]]
    assert a[2]["text"] == b[2]["text"]
    for ea, eb in zip(a[3], b[3]):
        for k in ea:
            np.testing.assert_array_equal(ea[k], eb[k])
    assert not np.array_equal(a[0]["x"], c[0]["x"])
    assert a[2]["text"] != c[2]["text"]


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_files_are_identical_for_a_seed(tmp_path, name):
    """Building a workload twice with one seed writes the same bytes."""
    digests = []
    for rep in ("a", "b"):
        w = workloads.WORKLOADS[name](3, str(tmp_path / rep))
        files = {}
        for root, _, names in os.walk(w.workdir):
            for n in names:
                p = os.path.join(root, n)
                with open(p, "rb") as f:
                    files[os.path.relpath(p, w.workdir)] = f.read()
        digests.append(files)
    assert digests[0] and digests[0] == digests[1]


def test_polygons_are_convex_ccw_with_multipolygons():
    polys = gen.make_polygons(np.random.default_rng(0), 40)
    for i, parts in enumerate(polys["parts"]):
        assert len(parts) == (2 if i % 10 == 9 else 1)
        for ring in parts:
            assert 3 <= len(ring) <= 12
            e = np.roll(ring, -1, axis=0) - ring
            turn = e[:, 0] * np.roll(e[:, 1], -1) - e[:, 1] * np.roll(e[:, 0], -1)
            assert (turn > 0).all()
        if len(parts) == 2:
            b = gen.polygon_bounds([[parts[0]], [parts[1]]])
            assert b[0, 2] < b[1, 0] or b[1, 2] < b[0, 0]


# ---------------------------------------------------------------------------
# references
# ---------------------------------------------------------------------------
def _loop_containing_pairs(px, py, parts):
    out = set()
    for j, ps in enumerate(parts):
        for i in range(len(px)):
            for ring in ps:
                a, b = ring, np.roll(ring, -1, axis=0)
                cross = ((b[:, 0] - a[:, 0]) * (py[i] - a[:, 1])
                         - (b[:, 1] - a[:, 1]) * (px[i] - a[:, 0]))
                if (cross > 0).all():
                    out.add((i, j))
    return out


def test_containing_pairs_matches_loop():
    rng = np.random.default_rng(1)
    pts = gen.make_points(rng, 2000)
    polys = gen.make_polygons(rng, 40, r_lo=5.0, r_hi=30.0)
    pi, gi = checks.containing_pairs(pts["x"], pts["y"], polys["parts"])
    got = set(zip(pi.tolist(), gi.tolist()))
    assert len(got) == len(pi)
    assert got == _loop_containing_pairs(pts["x"], pts["y"], polys["parts"])
    assert got


def test_union_find_survivors():
    assert checks.union_find_survivors(6, [(1, 4), (4, 2), (3, 5)]) == {0, 1, 3}


def test_geofence_reference_keeps_only_closed_windows():
    ring = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    fences = {"id": np.array([7]), "parts": [[ring]]}
    hour = 3_600_000_000
    batch = {"ex": np.array([5.0, 5.0, 50.0, 5.0]),
             "ey": np.array([5.0, 5.0, 5.0, 5.0]),
             "ts": np.array([0, 10, 20, 4 * hour])}
    # final watermark 4h - 2h: only the window [0, 1h) has closed
    assert checks.geofence_reference([batch], fences, hour, 2 * hour) == {(0, 7): 2}


# ---------------------------------------------------------------------------
# each check rejects a perturbed result
# ---------------------------------------------------------------------------
def test_geo_join_check_rejects_perturbation():
    want = {0: (10, 123.5), 3: (4, 7.25)}
    assert checks.geo_join_matches(dict(want), want)
    assert not checks.geo_join_matches({0: (11, 123.5), 3: (4, 7.25)}, want)
    assert not checks.geo_join_matches({0: (10, 123.6), 3: (4, 7.25)}, want)
    assert not checks.geo_join_matches({0: (10, 123.5)}, want)
    assert not checks.geo_join_matches({**want, 5: (1, 1.0)}, want)


def test_window_check_rejects_perturbation():
    want = (100, 5000.25, 0.5, 99.5)
    assert checks.window_matches(want, want)
    for k, bad in ((0, 99), (1, 5000.5), (2, 0.25), (3, 99.75)):
        got = list(want)
        got[k] = bad
        assert not checks.window_matches(tuple(got), want)


def test_survivor_check_rejects_perturbation():
    want = {0, 1, 3, 8}
    assert checks.survivors_match([3, 0, 8, 1], want)
    assert not checks.survivors_match([3, 0, 8], want)
    assert not checks.survivors_match([3, 0, 8, 1, 2], want)
    assert not checks.survivors_match([3, 0, 8, 1, 1], want)
    assert not checks.survivors_match([3, 0, 8, 2], want)


def test_planted_check_rejects_missing_pairs():
    corpus = gen.make_corpus(np.random.default_rng(5), 300)
    keep, dups = checks.planted_survivors(corpus["cluster"])
    assert dups and len(keep) + len(dups) == 300
    assert checks.planted_collapsed(keep, keep, dups)
    # an empty pair set leaves every doc: the union-find over it agrees,
    # the planted clusters do not
    everyone = checks.union_find_survivors(300, [])
    assert checks.survivors_match(everyone, everyone)
    assert not checks.planted_collapsed(everyone, keep, dups)
    # losing a cluster's first member is wrong however many dups go
    first = min(d for d in keep if corpus["cluster"][d] >= 0)
    assert not checks.planted_collapsed(keep - {first}, keep, dups)
    # a few missed pairs are allowed, many are not
    missed = sorted(dups)
    assert checks.planted_collapsed(keep | set(missed[:1]), keep, dups)
    assert not checks.planted_collapsed(
        keep | set(missed[:len(missed) // 2]), keep, dups)


def test_geofence_check_rejects_perturbation():
    want = {(0, 1): 3, (3600, 2): 1}
    assert checks.geofence_matches(dict(want), want)
    assert not checks.geofence_matches({(0, 1): 4, (3600, 2): 1}, want)
    assert not checks.geofence_matches({(0, 1): 3}, want)
    assert not checks.geofence_matches({**want, (7200, 1): 1}, want)


# ---------------------------------------------------------------------------
# printed metric names
# ---------------------------------------------------------------------------
def test_every_printed_metric_is_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert run.END_TO_END == e2e
    assert run.layer_units() == layer
    names = {w["name"] for w in spec["workloads"]}
    assert names <= set(workloads.WORKLOADS)


def test_layer_metrics_cover_declared_names():
    units = run.layer_units()
    assert set(kernels.METRICS) <= set(units)
    assert set(workloads.LAYER_METRICS) <= set(units)
    assert set(run.GENERIC_LAYER) <= set(units)


# ---------------------------------------------------------------------------
# status-store parsing
# ---------------------------------------------------------------------------
def test_parse_metric_forms():
    from perfbench.trace import parse_metric

    assert parse_metric("100,000") == 100_000
    assert parse_metric("5 ms") == pytest.approx(0.005)
    assert parse_metric("0.0 B") == 0.0
    assert parse_metric("782.9 KiB") == pytest.approx(782.9 * 1024)
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n1.3 s (305 ms, 323 ms, "
        "365 ms (stage 0.0: task 3))") == pytest.approx(1.3)


def test_union_length_merges_overlaps():
    from perfbench.trace import _union_length

    assert _union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union_length([]) == 0


# ---------------------------------------------------------------------------
# child processes
# ---------------------------------------------------------------------------
def test_stop_descendants_ends_orphaned_grandchildren():
    import subprocess
    import sys

    # a child that leaves a grandchild behind when it exits, as the JVM
    # does with its Python worker daemon; run in its own process so the
    # test runner's children are not touched
    script = (
        "import subprocess, sys, time\n"
        "from perfbench import run\n"
        "run.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'])\n"
        "time.sleep(0.2)\n"
        "before = len(run.descendants())\n"
        "run.stop_descendants()\n"
        "print(before, len(run.descendants()))\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["1", "0"]
