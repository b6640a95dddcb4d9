"""knn_join and all_knn_join: brute-force equivalence.

Both joins seed every query's search radius from per-cell counts and run
one candidate round. These tests prove they return exactly the
brute-force top-k with the (dist, id) tie-break, across both metrics:

- knn_join (broadcast query side) on clustered and uniform data, hot and
  rural queries, ties at the k-th distance, the antimeridian, data
  outside the world or with null coordinates, a null query, a
  ``max_radius`` below the k-th distance; plus a pin on its plan and
  Spark jobs.
- all_knn_join (shuffle both sides; phase-1 in-cell kth distance) on
  sparse/dense levels, a right side smaller than k and coincident points.
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geomesa_spark.operators.knn import all_knn_join, knn_join  # noqa: E402


def _mk_points(n, salt):
    ids = np.arange(n, dtype=np.int64)
    lon = ((ids * 7919 + salt) % 36000) / 100.0 - 180.0
    lat = ((ids * 104729 + salt * 3) % 18000) / 100.0 - 90.0
    return ids, lon, lat


def _brute(lids, llon, llat, rids, rlon, rlat, k, metric, max_radius=math.inf):
    """(left id, right id, rank) of the top-k within ``max_radius``; a
    NaN coordinate (a null) on either side matches nothing."""
    out = set()
    for i, qid in enumerate(lids):
        # the engine's own spellings (knn._dist_expr, measures.haversine_col)
        if metric == "degrees":
            ddx, ddy = llon[i] - rlon, llat[i] - rlat
            d = np.sqrt(ddx * ddx + ddy * ddy)
        else:
            la1, la2 = np.radians(llat[i]), np.radians(rlat)
            dla, dlo = (la2 - la1) / 2, (np.radians(rlon) - np.radians(llon[i])) / 2
            a = np.sin(dla) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(dlo) ** 2
            d = 2 * 6371008.7714 * np.arcsin(np.sqrt(a))
        within = [j for j in range(len(rids)) if d[j] <= max_radius]
        order = sorted(within, key=lambda j: (d[j], rids[j]))
        for rank, j in enumerate(order[:k], start=1):
            out.add((int(qid), int(rids[j]), rank))
    return out


def _run(spark, nl, nr, k, metric, level):
    lids, llon, llat = _mk_points(nl, 13)
    rids, rlon, rlat = _mk_points(nr, 29)
    left = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, x, y in zip(lids, llon, llat)],
        "lid long, lx double, ly double")
    right = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, x, y in zip(rids, rlon, rlat)],
        "rid long, rlon double, rlat double")
    out = all_knn_join(left, right, k, "lid", "lx", "ly",
                       "rid", "rlon", "rlat", metric=metric, level=level)
    got = {(r["lid"], r["rid"], r["rank"]) for r in out.collect()}
    assert got == _brute(lids, llon, llat, rids, rlon, rlat, k, metric)


def test_all_knn_degrees_sparse_cells(spark):
    # level 6 over 300 right points: ~0.07/cell -> exercises escalation rounds
    _run(spark, nl=80, nr=300, k=3, metric="degrees", level=6)


def test_all_knn_degrees_dense_cells(spark):
    # level 2 packs many points per cell -> phase-1 d_k seeding resolves
    # nearly everything in one round
    _run(spark, nl=60, nr=400, k=5, metric="degrees", level=2)


def test_all_knn_sphere(spark):
    _run(spark, nl=40, nr=200, k=3, metric="sphere", level=3)


def test_all_knn_right_smaller_than_k(spark):
    left = spark.createDataFrame([(0, 0.0, 0.0), (1, 100.0, 40.0)],
                                 "lid long, lx double, ly double")
    right = spark.createDataFrame([(7, 1.0, 1.0), (8, -50.0, 20.0)],
                                  "rid long, rlon double, rlat double")
    out = all_knn_join(left, right, k=5, left_id="lid", lx="lx", ly="ly",
                       right_id="rid", rx="rlon", ry="rlat", level=4)
    # every left gets both rights (all that exist), ranked
    assert out.count() == 4
    ranks = {(r["lid"], r["rank"]) for r in out.collect()}
    assert ranks == {(0, 1), (0, 2), (1, 1), (1, 2)}


def test_all_knn_duplicate_coords_zero_radius(spark):
    # k coincident neighbors make the phase-1 kth distance 0; the zero
    # disk must still retire the query with the true (tie-broken) top-k
    left = spark.createDataFrame([(0, 10.0, 10.0)],
                                 "lid long, lx double, ly double")
    right = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, 10.0, 10.0), (3, 10.0, 10.0), (4, 11.0, 10.0)],
        "rid long, rlon double, rlat double")
    out = all_knn_join(left, right, k=2, left_id="lid", lx="lx", ly="ly",
                       right_id="rid", rx="rlon", ry="rlat", level=4)
    got = {(r["rid"], r["rank"]) for r in out.collect()}
    assert got == {(1, 1), (2, 2)}


# ---------------------------------------------------------------------------
# knn_join (broadcast query side)

_DUP = (40.0, 20.3)       # seven data points share this coordinate
_SYM = (100.0, -50.0)     # data at exactly +-1 degree of longitude from it


def _knn_inputs():
    """Clustered + uniform data with duplicate coordinates, symmetric
    ties, points outside the world and null coordinates; hot, rural,
    antimeridian, polar, tie and null queries."""
    rng = np.random.default_rng(5)
    xs, ys = [], []
    for cx, cy in ((10.0, 45.0), (-74.0, 40.7), (179.8, -17.0)):
        xs.append(cx + rng.normal(0, 0.05, 60))
        ys.append(cy + rng.normal(0, 0.03, 60))
    xs.append(rng.uniform(-180, 180, 150))
    ys.append(rng.uniform(-90, 90, 150))
    extra = ([_DUP] * 7
             + [(_SYM[0] + 1.0, _SYM[1]), (_SYM[0] - 1.0, _SYM[1])]
             + [(181.0, 10.0), (185.0, -20.0), (-180.5, 30.0),
                (50.0, 90.5), (60.0, -91.0)]
             + [(math.nan, 5.0), (7.0, math.nan), (math.nan, math.nan)])
    dx = np.concatenate(xs + [np.array([p[0] for p in extra])])
    dy = np.concatenate(ys + [np.array([p[1] for p in extra])])
    dids = np.arange(len(dx), dtype=np.int64) * 3 + 11
    qx = np.concatenate([
        np.array([10.0, 10.05, -74.02, 179.95, -179.9, -179.99,
                  _DUP[0], _SYM[0], 180.0, -179.8, 55.0, 0.0, math.nan]),
        rng.uniform(-180, 180, 12)])
    qy = np.concatenate([
        np.array([45.0, 44.98, 40.7, -17.0, -17.1, 10.0,
                  _DUP[1] - 0.4, _SYM[1], 10.0, 30.0, 89.5, -89.0, 0.0]),
        rng.uniform(-90, 90, 12)])
    qids = np.arange(len(qx), dtype=np.int64)
    return qids, qx, qy, dids, dx, dy


def _none(v):
    return None if math.isnan(v) else float(v)


def _knn_frames(spark):
    qids, qx, qy, dids, dx, dy = _knn_inputs()
    q = spark.createDataFrame(
        [(int(i), _none(x), _none(y)) for i, x, y in zip(qids, qx, qy)],
        "qid long, qx double, qy double")
    d = spark.createDataFrame(
        [(int(i), _none(x), _none(y)) for i, x, y in zip(dids, dx, dy)],
        "did long, lon double, lat double")
    return q, d, (qids, qx, qy, dids, dx, dy)


def _knn_rows(out):
    return {(r["qid"], r["did"], r["rank"]) for r in out.collect()}


@pytest.mark.parametrize("metric,max_radius", [("degrees", 405.0),
                                               ("sphere", 20_100_000.0)])
def test_knn_join_matches_brute_force(spark, metric, max_radius):
    """Every query's top-k equals numpy brute force, whatever the
    (initial_radius, max_rounds) setting: those no longer change rows."""
    q, d, arrays = _knn_frames(spark)
    want = _brute(*arrays, 5, metric)
    got = []
    for initial, rounds in ((0.01, 1), (30.0, 6)):
        if metric == "sphere":
            initial *= 111_000.0
        out = knn_join(q, d, 5, metric=metric, initial_radius=initial,
                       max_rounds=rounds, max_radius=max_radius)
        got.append(_knn_rows(out))
    assert got[0] == want
    assert got[1] == got[0]
    qids, qx, _, dids, dx, dy = arrays
    per_q = Counter(qid for qid, _, _ in want)
    assert set(per_q) == set(qids[~np.isnan(qx)])  # the null query: no rows
    assert set(per_q.values()) == {5}
    # the k-th distance ties among the duplicates break on the lowest ids
    dup_ids = sorted(dids[(dx == _DUP[0]) & (dy == _DUP[1])])
    dup_q = qids[qx == _DUP[0]][0]
    assert {did for qid, did, _ in want if qid == dup_q} == set(dup_ids[:5])


@pytest.mark.parametrize("metric,max_radius", [("degrees", 2.0),
                                               ("sphere", 200_000.0)])
def test_knn_join_max_radius_below_kth_distance(spark, metric, max_radius):
    """No neighbour farther than max_radius: rural queries get < k rows."""
    q, d, arrays = _knn_frames(spark)
    want = _brute(*arrays, 5, metric, max_radius=max_radius)
    got = _knn_rows(knn_join(q, d, 5, metric=metric, max_radius=max_radius))
    assert got == want
    per_q = Counter(qid for qid, _, _ in want)
    counts = [per_q[qid] for qid in arrays[0]]
    assert 5 in counts and min(counts) < 5


def test_knn_join_one_round_plan(spark, plan_node_names):
    """Building knn_join runs only the count-map job(s); its executed
    plan is one broadcast cell join with one Python stage and no
    nested-loop fallback, even for rural queries."""
    q, d, _ = _knn_frames(spark)
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def job_ids():
        bus.waitUntilEmpty(30_000)
        return set(tracker.getJobIdsForGroup(None))

    before = job_ids()
    out = knn_join(q, d, 5, initial_radius=0.01, max_rounds=1, max_radius=405.0)
    assert 1 <= len(job_ids() - before) <= 2
    out.collect()
    names = plan_node_names(out)
    assert "BroadcastNestedLoopJoinExec" not in names
    assert names.count("ArrowEvalPythonExec") == 1
    assert names.count("BroadcastHashJoinExec") == 1


# ---------------------------------------------------------------------------
# sphere metric: longitudes outside the world

def test_sphere_knn_finds_out_of_world_longitude(spark):
    """Lon 250 is lon -110 on the sphere (222 km from the query), nearer
    than lon -100 (1,334 km): both joins must find it though its raw
    longitude lies outside the world."""
    q = spark.createDataFrame([(0, -112.0, 0.0)], "qid long, qx double, qy double")
    d = spark.createDataFrame([(1, 250.0, 0.0), (2, -100.0, 0.0)],
                              "did long, lon double, lat double")
    out = knn_join(q, d, 1, metric="sphere", max_radius=20_100_000.0)
    assert [(r["lon"], r["lat"]) for r in out.collect()] == [(250.0, 0.0)]
    out = all_knn_join(q, d, 1, "qid", "qx", "qy", "did", "lon", "lat",
                       metric="sphere")
    assert [(r["lon"], r["lat"]) for r in out.collect()] == [(250.0, 0.0)]
    # the wrapped key stays non-nullable: a nullable join key gets an
    # inferred isnotnull filter that inlines the cell normalization
    # 2^steps times, past the JVM's generated-method size limit
    from geomesa_spark.operators.spatial_join import with_point_cell
    keyed = with_point_cell(d, "lon", "lat", 8, wrap_lon=True)
    assert not keyed.schema["__cell__"].nullable


@pytest.mark.parametrize("join", ["knn_join", "all_knn_join"])
def test_sphere_knn_out_of_world_matches_brute_force(spark, join):
    """Seeded data and queries with longitudes up to +-540: the sphere
    top-k equals the haversine brute force on the raw coordinates."""
    rng = np.random.default_rng(23)
    dx, dy = rng.uniform(-540.0, 540.0, 300), rng.uniform(-80.0, 80.0, 300)
    qx = np.r_[rng.uniform(-400.0, 400.0, 30), [-112.0, 190.0, -181.0]]
    qy = np.r_[rng.uniform(-80.0, 80.0, 30), [0.0, 10.0, -5.0]]
    qids, dids = np.arange(len(qx)), np.arange(len(dx)) * 3 + 11
    q = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, x, y in zip(qids, qx, qy)],
        "qid long, qx double, qy double")
    d = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, x, y in zip(dids, dx, dy)],
        "did long, lon double, lat double")
    if join == "knn_join":
        out = knn_join(q, d, 4, metric="sphere", max_radius=20_100_000.0)
    else:
        out = all_knn_join(q, d, 4, "qid", "qx", "qy", "did", "lon", "lat",
                           metric="sphere", level=4)
    assert _knn_rows(out) == _brute(qids, qx, qy, dids, dx, dy, 4, "sphere")
