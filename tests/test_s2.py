"""S2 cell scheme: structural invariants + known reference tokens.

Known values cross-checked against the public s2geometry cell ids
(e.g. the S2 interactive docs): leaf id for (lat, lng).
"""

from __future__ import annotations

import numpy as np

from geomesa_spark.curves.s2 import (
    MAX_LEVEL, cell_id_from_lonlat, cell_level, parent, token,
)


def test_leaf_structure():
    ids = cell_id_from_lonlat(np.array([0.0, 10.0, -120.0]),
                              np.array([0.0, 45.0, -30.0]))
    # leaf ids are odd and have the face in the top 3 bits
    assert np.all(ids.astype(np.uint64) & np.uint64(1) == 1)
    assert np.all(cell_level(ids) == MAX_LEVEL)


def test_face_assignment():
    # face centers: (0,0)->0, (90,0)->1, (0,90)->2, (180,0)->3, (-90,0)->4, (0,-90)->5
    lons = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    lats = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
    ids = cell_id_from_lonlat(lons, lats).astype(np.uint64)
    faces = (ids >> np.uint64(61)).astype(int)
    assert list(faces) == [0, 1, 2, 3, 4, 5]


def test_face_center_leaf_ids():
    # the center of each face is the middle of the Hilbert curve on that
    # face: id = (face << 61) + 2^61/2 ... exactly (face*2+1) << 60 | 1
    for f, (lon, lat) in enumerate([(0, 0), (90, 0), (0, 90),
                                    (180, 0), (-90, 0), (0, -90)]):
        got = int(cell_id_from_lonlat(np.array([lon]), np.array([lat]))[0]) & ((1 << 64) - 1)
        want = ((2 * f + 1) << 60) | 1
        # exact face centers sit on an (i,j) boundary: sin/cos fp noise may
        # land one leaf to either side of the curve midpoint
        assert abs(got - want) <= 2, (f, hex(got), hex(want))


def test_parent_containment_and_level():
    ids = cell_id_from_lonlat(np.array([12.345]), np.array([-45.678]))
    for lvl in (20, 10, 5, 1):
        p = parent(ids, lvl)
        assert cell_level(p)[0] == lvl
        # parent range contains the leaf: [p - lsb + 1, p + lsb - 1]
        lsb = 1 << (2 * (MAX_LEVEL - lvl))
        assert p[0] - lsb + 1 <= ids[0] <= p[0] + lsb - 1


def test_nearby_points_share_coarse_parent():
    a = cell_id_from_lonlat(np.array([10.0001]), np.array([20.0001]))
    b = cell_id_from_lonlat(np.array([10.0002]), np.array([20.0002]))
    assert parent(a, 12)[0] == parent(b, 12)[0]
    far = cell_id_from_lonlat(np.array([-100.0]), np.array([20.0]))
    assert parent(a, 5)[0] != parent(far, 5)[0]


def test_token_roundtrip_shape():
    ids = cell_id_from_lonlat(np.array([1.0]), np.array([2.0]), level=10)
    t = token(ids)[0]
    assert 1 <= len(t) <= 16
    assert int(t.ljust(16, "0"), 16) == np.uint64(ids[0].astype(np.uint64))


def test_region_coverer_superset_and_selective():
    """Every point of the box lands in a covering range; a small box
    covers a tiny fraction of the id space (the S2RegionCoverer analog)."""
    from geomesa_spark.curves.s2 import MAX_LEVEL, region_coverer, s2_ranges

    rng = np.random.RandomState(3)
    for x0, y0, x1, y1 in [(-10.0, -5.0, 15.0, 8.0), (100.0, 40.0, 101.0, 41.0),
                           (-5.0, 85.0, 5.0, 89.9), (170.0, -20.0, 179.9, -10.0)]:
        ranges = s2_ranges(region_coverer(x0, y0, x1, y1, max_cells=64))
        lon = np.concatenate([rng.uniform(x0, x1, 300),
                              np.full(20, x0), np.full(20, x1)])
        lat = np.concatenate([rng.uniform(y0, y1, 300),
                              rng.uniform(y0, y1, 40)])
        ids = cell_id_from_lonlat(lon, lat, MAX_LEVEL).astype(np.uint64)
        lows = np.array([lo for lo, hi in ranges], dtype=np.uint64)
        his = np.array([hi for lo, hi in ranges], dtype=np.uint64)
        for v in ids:
            k = int(np.searchsorted(lows, v, side="right")) - 1
            assert k >= 0 and v <= his[k], (x0, y0, x1, y1, int(v))
    small = s2_ranges(region_coverer(100.0, 40.0, 100.5, 40.5, max_cells=64))
    frac = sum(int(h - l) for l, h in small) / float(6 << 61)
    assert frac < 0.001


def test_region_coverer_level_knobs():
    from geomesa_spark.curves.s2 import cell_level, region_coverer

    cells = region_coverer(10.0, 10.0, 12.0, 12.0, max_cells=32,
                           min_level=4, max_level=12, level_mod=2)
    levels = {int(cell_level(np.array([c], dtype=np.int64))[0]) for c in cells}
    assert all(4 <= lv <= 12 and (lv - 4) % 2 == 0 for lv in levels), levels
    # max_cells is a hint: an unaligned budget hit subdivides level_mod
    # further levels before it can emit, so allow the 4^level_mod factor
    assert len(cells) <= 32 * 16


def test_s2_store_roundtrip(spark, tmp_path, pruned_on):
    """The s2 keyspace's write_store + scan_store: planned scan == brute
    force, and pruning touches a strict subset of partitions."""
    from geomesa_spark.plans.store import KEYSPACES, scan_store, write_store

    rng = np.random.RandomState(17)
    n = 4000
    rows = [(int(i), float(rng.uniform(-180, 180)), float(rng.uniform(-90, 90)))
            for i in range(n)]
    df = spark.createDataFrame(rows, "pid long, lon double, lat double")
    path = str(tmp_path / "s2_store")
    s2 = KEYSPACES["s2"]
    write_store(df, path, s2, digits=2)
    box = (-60.0, -30.0, 40.0, 35.0)
    out = scan_store(spark, path, s2, box)
    got = {r.pid for r in out.collect()}
    want = {pid for pid, lon, lat in rows
            if box[0] <= lon <= box[2] and box[1] <= lat <= box[3]}
    assert got == want
    pruned_on(out, "s2_p")
    assert len(s2.cover((100.0, 40.0, 101.0, 41.0), 0, 0, 2)) < 64
