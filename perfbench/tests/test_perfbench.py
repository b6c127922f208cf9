"""Tests of the benchmark's generators, oracles and failure accounting.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
No test starts Spark; the oracle tests use DuckDB.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from gridfia_spark import geom
from gridfia_spark.constants import PIX, SPECIES, X0, Y0, image_id
from perfbench import inputs, oracle, run, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = inputs.TILE_SPEC


def _same_polys(a, b) -> bool:
    return len(a) == len(b) and all(
        p.poly_id == q.poly_id and len(p.rings) == len(q.rings)
        and all(np.array_equal(r, s) for r, s in zip(p.rings, q.rings))
        for p, q in zip(a, b)
    )


# ------------------------------------------------------------- generators


def test_generators_repeat_for_a_seed_and_change_with_it():
    assert inputs.counties(7) == inputs.counties(7)
    assert inputs.counties(7) != inputs.counties(8)
    assert _same_polys(inputs.fine_polygons(7), inputs.fine_polygons(7))
    assert not _same_polys(inputs.fine_polygons(7), inputs.fine_polygons(8))
    for a, b in zip(inputs.plot_points(7), inputs.plot_points(7)):
        assert np.array_equal(a, b)
    assert not np.array_equal(inputs.plot_points(7)[1], inputs.plot_points(8)[1])


def test_pixel_centre_rule_matches_brute_force():
    # a lattice edge from (0, 0) to (dx, dy) contains the pixel centre
    # (i + 1/2, j + 1/2) iff (2i + 1, 2j + 1) is collinear and within it
    for dx in range(-9, 10):
        for dy in range(-9, 10):
            if dx == dy == 0:
                continue
            hit = any(
                (2 * i + 1) * dy == (2 * j + 1) * dx
                and 0 < (2 * i + 1) * dx + (2 * j + 1) * dy < 2 * (dx * dx + dy * dy)
                for i in range(min(0, dx) - 1, max(0, dx) + 1)
                for j in range(min(0, dy) - 1, max(0, dy) + 1)
            )
            assert inputs.edge_hits_pixel_centre(dx, dy) == hit, (dx, dy)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_fine_polygons_keep_the_lattice_rules(seed):
    polys = inputs.fine_polygons(seed)
    assert len(polys) == inputs.FINE_POLYGONS
    assert any(len(p.rings) > 1 for p in polys)
    for p in polys:
        outer = p.rings[0]
        assert inputs.FINE_VERTICES[0] <= len(outer) - 1 <= inputs.FINE_VERTICES[1]
        assert inputs.rings_are_simple(p.rings)
        for r in p.rings:
            assert r.dtype == np.int64 and np.array_equal(r[0], r[-1])
            assert (r[:, 0] >= 0).all() and (r[:, 0] <= SPEC.gw).all()
            assert (r[:, 1] >= 0).all() and (r[:, 1] <= SPEC.gh).all()
            d = np.diff(r, axis=0)
            assert not any(inputs.edge_hits_pixel_centre(int(a), int(b)) for a, b in d)
            assert (np.abs(d).sum(axis=1) > 0).all()


def test_county_cuts_sit_on_the_lattice_off_tile_edges():
    for seed in range(20):
        for cuts, n in zip(inputs.counties(seed), (SPEC.gw, SPEC.gh)):
            assert cuts[0] == 0 and cuts[-1] == n
            assert all(a < b for a, b in zip(cuts, cuts[1:]))
            assert all(c % SPEC.tile_w for c in cuts[1:-1])


def test_points_sit_half_a_metre_off_whole_metres():
    ids, x, y = inputs.plot_points(5)
    assert np.array_equal(ids, np.arange(inputs.N_POINTS))
    mx, my = x - X0 - 0.5, Y0 - y - 0.5
    assert np.array_equal(mx, np.round(mx)) and np.array_equal(my, np.round(my))
    assert mx.min() >= 0 and mx.max() < SPEC.gw * PIX
    assert my.min() >= 0 and my.max() < SPEC.gh * PIX


def test_rings_are_simple_rejects_crossings_and_folds():
    square = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], np.int64)
    bowtie = np.array([[0, 0], [4, 4], [4, 0], [0, 4], [0, 0]], np.int64)
    fold = np.array([[0, 0], [4, 0], [2, 0], [2, 4], [0, 0]], np.int64)
    assert inputs.rings_are_simple([square])
    assert not inputs.rings_are_simple([bowtie])
    assert not inputs.rings_are_simple([fold])


# ----------------------------------------------------------------- oracles


def test_crossing_number_matches_the_float_kernel_on_pixel_centres():
    # two independent implementations of the same membership: the oracle's
    # exact int64 test and the engine's float ray casting
    for p in inputs.fine_polygons(11)[:20] + [inputs.lshape_lattice(SPEC)]:
        x0, y0 = np.vstack(p.rings).min(axis=0)
        x1, y1 = np.vstack(p.rings).max(axis=0)
        gy, gx = np.mgrid[y0:y1, x0:x1]
        exact = oracle.inside(p.rings, 60 * gx.ravel() + 30, 60 * gy.ravel() + 30)
        wx = X0 + gx.ravel() * PIX + PIX / 2
        wy = Y0 - gy.ravel() * PIX - PIX / 2
        assert np.array_equal(exact, geom.points_in_polygon(wx, wy, p.world_rings()))


def test_lattice_assign_equals_rectangle_overlap_for_counties():
    xc, yc = inputs.counties(3)
    polys = inputs.county_polygons(xc, yc)
    got = oracle.lattice_assign(polys, SPEC)
    want = set()
    for p in polys:
        (a, b), (c, d) = p.rings[0].min(axis=0), p.rings[0].max(axis=0)
        for ty in range(SPEC.tiles_y):
            for tx in range(SPEC.tiles_x):
                if tx * 64 < c and (tx + 1) * 64 > a and ty * 64 < d and (ty + 1) * 64 > b:
                    want |= {(p.poly_id, image_id(code, tx, ty)) for code, _ in SPECIES}
    assert got == want


def test_counties_duckdb_agrees_with_the_lattice_oracle():
    xc, yc = inputs.counties(4)
    names = [[inputs.county_id(j, i) for i in range(len(xc) - 1)] for j in range(len(yc) - 1)]
    zonal, assign = oracle.counties_duckdb(SPEC, xc, yc, names)
    polys = inputs.county_polygons(xc, yc)
    assert zonal == oracle.lattice_zonal(oracle.pixel_raster(SPEC), polys)
    assert assign == oracle.lattice_assign(polys, SPEC)


def test_knn_oracle_breaks_ties_by_id():
    ids = np.arange(4, dtype=np.int64)
    x = np.array([0.5, 1.5, -0.5, 0.5])
    y = np.array([0.5, 0.5, 0.5, 1.5])
    out = oracle.knn_sample(0, ids, x, y, k=3, n=4)
    assert out[0] == [(1, 1, 1.0), (2, 2, 1.0), (3, 3, 1.0)]


# ------------------------------------------------------ failure accounting


@pytest.fixture(scope="module")
def zonal_expected(tmp_path_factory):
    wl = workloads.Zonal(None, 5, str(tmp_path_factory.mktemp("work")))
    wl.xcuts, wl.ycuts = inputs.counties(5)
    wl.fine = inputs.fine_polygons(5)
    return wl, wl.expected()


def _as_output(exp):
    return {"assign": set(exp["assign"]), "zonal": dict(exp["zonal"]), "n_assign_rows": len(exp["assign"])}


def test_a_corrupted_zonal_output_is_a_failed_job(zonal_expected):
    wl, exp = zonal_expected
    last = f"F{inputs.FINE_POLYGONS - 1:04d}"
    assert {p for p, _ in exp["zonal"]} >= {"K00", "K33", "L01", "F0000", last}
    good = _as_output(exp)
    assert wl.check(good, exp) == []
    bad_sum = _as_output(exp)
    key = sorted(bad_sum["zonal"])[0]
    n, s, mx, nz = bad_sum["zonal"][key]
    bad_sum["zonal"][key] = (n, s + 1, mx, nz)
    bad_assign = _as_output(exp)
    bad_assign["assign"].pop()
    problems = run.check_all(wl, [good, bad_sum, bad_assign, None], exp)
    assert [p["job"] for p in problems] == [1, 2, 3]
    assert len(problems) / 4 == 0.75  # the run's error rate: failed / attempted


def test_a_corrupted_knn_output_is_a_failed_job():
    wl = workloads.PointsKnn(None, 6, None)
    wl.ids, wl.x, wl.y = inputs.plot_points(6)
    wl.polys_in = inputs.fine_polygons(6)
    exp = wl.expected()
    good = {"pip": set(exp["pip"]), "n_pip_rows": len(exp["pip"]),
            "knn": {q: list(v) for q, v in exp["knn"].items()}, "faults": []}
    assert wl.check(good, exp) == []
    q = next(iter(good["knn"]))
    rank, nb, d = good["knn"][q][0]
    good["knn"][q][0] = (rank, nb + 1, d)
    assert wl.check(good, exp)
    import pandas as pd

    short = wl.reduce({"pip": [], "knn": pd.DataFrame(
        {"point_id": [0], "rank": [1], "neighbor_id": [1], "dist_sq": [1.0]})})
    assert any("returned 1 rows" in f for f in short["faults"])
    assert wl.check(short, exp)


def test_a_wrong_cube_digest_is_a_failed_job():
    wl = workloads.CubeEtl(None, 0, None)
    exp = {"chunks": SPEC.n_images, "digest": (1, 2, 3, 4, 5)}
    assert wl.check({"chunks": SPEC.n_images, "digest": (1, 2, 3, 4, 5)}, exp) == []
    assert wl.check({"chunks": SPEC.n_images, "digest": (1, 2, 3, 4, 6)}, exp)
    assert wl.check({"chunks": SPEC.n_images - 1, "digest": (1, 2, 3, 4, 5)}, exp)


# ----------------------------------------------------------- tracing bits


def test_parse_metric_reads_the_status_store_formats():
    assert trace.parse_metric("2,400") == 2400
    assert trace.parse_metric("2.9 MiB") == pytest.approx(2.9 * 2**20)
    assert trace.parse_metric("27 ms") == pytest.approx(0.027)
    text = "total (min, med, max (stageId: taskId))\n14.4 s (3.4 s, 3.6 s, 3.8 s (stage 1.0: task 1))"
    assert trace.parse_metric(text) == pytest.approx(14.4)


def test_self_time_subtracts_the_union_of_child_spans():
    tr = trace.Tracer(None, False)
    tr.spans = [
        trace.Span("a", "job", 1.0, 3.0), trace.Span("b", "job", 2.0, 4.0),
        trace.Span("c", "b", 2.5, 3.0), trace.Span("job", None, 0.0, 10.0),
    ]
    st = tr.self_times()
    assert st["job"] == pytest.approx(7.0)  # 10 s minus the union [1, 4]
    assert st["b"] == pytest.approx(1.5)
    assert {s.name for s in tr.descendants("b")} == {"b", "c"}


# ----------------------------------------------------------- the contract


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
