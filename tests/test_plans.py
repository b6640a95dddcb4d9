"""Checkpoint/lineage + indexed-store planner tests."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_spark.plans.checkpoint import read_manifest, run_stage
from geomesa_spark.plans.store import (
    DIGITS, KEYSPACES, bbox_query, scan_store, write_indexed, write_store,
)
from geomesa_spark.sources.pages import generate_points, page_coords


def test_checkpoint_resume_and_lineage(spark, tmp_path):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return generate_points(spark, 1000, partitions=2)

    p = str(tmp_path / "stage1")
    r1 = run_stage(spark, "points", p, build, params={"n": 1000}, cell_col="page_id")
    assert not r1.skipped and calls["n"] == 1
    assert r1.manifest["row_count"] == 1000
    assert len(r1.manifest["cell_histogram"]) > 0

    # identical params AND layout -> skip, no rebuild
    r2 = run_stage(spark, "points", p, build, params={"n": 1000},
                   cell_col="page_id")
    assert r2.skipped and calls["n"] == 1
    assert r2.df.count() == 1000

    # changed LAYOUT (cell_col) is part of the stage identity -> rebuild
    r2b = run_stage(spark, "points", p, build, params={"n": 1000})
    assert not r2b.skipped and calls["n"] == 2

    # truncated manifest (crash mid-write) -> cache miss, rebuild, heal
    import os
    with open(os.path.join(p, "_manifest.json"), "w") as fh:
        fh.write('{"stage": "poi')   # torn write
    r2c = run_stage(spark, "points", p, build, params={"n": 1000})
    assert not r2c.skipped and calls["n"] == 3
    assert read_manifest(p)["row_count"] == 1000

    # changed params -> rebuild
    def build2():
        calls["n"] += 1
        return generate_points(spark, 500, partitions=2)

    r3 = run_stage(spark, "points", p, build2, params={"n": 500})
    assert not r3.skipped and calls["n"] == 4
    assert r3.manifest["row_count"] == 500

    # downstream stage re-runs when upstream fingerprint changes
    def agg_build():
        return r3.df.groupBy().agg(F.count("*").alias("n"))

    p2 = str(tmp_path / "stage2")
    d1 = run_stage(spark, "agg", p2, agg_build, inputs=[r3], params={})
    assert not d1.skipped
    d2 = run_stage(spark, "agg", p2, agg_build, inputs=[r3], params={})
    assert d2.skipped
    assert d1.manifest["inputs"] == [r3.fingerprint]

    # manifest is valid json on disk
    m = read_manifest(p2)
    assert m["stage"] == "agg"


def test_indexed_store_bbox_query(spark, tmp_path, pruned_on):
    n = 20_000
    pts = generate_points(spark, n, partitions=4)
    path = str(tmp_path / "store")
    write_indexed(pts, path, digits=2)

    bbox = (-75.0, 39.5, -72.0, 41.5)  # around NYC hot cell
    got = bbox_query(spark, path, *bbox)
    rows = sorted(r["page_id"] for r in got.collect())

    ids = np.arange(n, dtype=np.int64)
    lon, lat = page_coords(ids)
    want = sorted(ids[(lon >= bbox[0]) & (lon <= bbox[2])
                      & (lat >= bbox[1]) & (lat <= bbox[3])].tolist())
    assert rows == want
    assert len(rows) > 0

    # the plan must show partition pruning + pushed filters
    pruned_on(got, "z2_p")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "lon" in plan

    # pruning is real: fewer partition dirs scanned than exist
    prefixes = KEYSPACES["z2"].cover(bbox, 0, 0, 2)
    all_parts = [d for d in os.listdir(path) if d.startswith("z2_p=")]
    assert 0 < len(prefixes) < len(all_parts)


def test_readers_take_the_prefix_width_from_the_store(spark, tmp_path,
                                                      pruned_on):
    """A store written at 2 hex chars answers every z2 reader given no
    width with the oracle rows, pruned; a width the store does not hold,
    or a store holding two widths, raises instead of pruning to nothing.
    A default write holds at most 16 one-char prefixes."""
    from geomesa_spark.functions import register_functions
    from geomesa_spark.plans.planner import planned_query
    from geomesa_spark.plans.store import query_store, z2_keyed

    register_functions(spark)
    n = 5000
    pts = generate_points(spark, n, partitions=4)
    path = str(tmp_path / "w2")
    write_indexed(pts, path, digits=2)
    bbox = (-75.0, 39.5, -72.0, 41.5)
    ids = np.arange(n, dtype=np.int64)
    lon, lat = page_coords(ids)
    want = sorted(ids[(lon >= bbox[0]) & (lon <= bbox[2])
                      & (lat >= bbox[1]) & (lat <= bbox[3])].tolist())
    assert want
    z2 = KEYSPACES["z2"]
    cql = "BBOX(geom, {}, {}, {}, {})".format(*bbox)
    readers = {
        "bbox_query": lambda d: bbox_query(spark, path, *bbox, digits=d),
        "scan_store": lambda d: scan_store(spark, path, z2, bbox, digits=d),
        "query_store": lambda d: query_store(spark, path, cql, digits=d),
        "planned_query": lambda d: planned_query(
            spark, {"z2": path}, bbox=bbox, z2_digits=d)[1],
    }
    for name, read in readers.items():
        for d in (None, 2):
            got = read(d)
            assert sorted(r["page_id"] for r in got.collect()) == want, (name, d)
            pruned_on(got, "z2_p")
        with pytest.raises(ValueError, match="hex chars"):
            read(1)

    # a one-char append makes the store hold two widths
    z2_keyed(pts.limit(10), digits=1).write.mode("append") \
        .partitionBy("z2_p").parquet(path)
    for name, read in readers.items():
        with pytest.raises(ValueError, match="one width"):
            read(None)

    # overwritten at the default width, the store reads back again
    write_indexed(pts, path)
    parts = [d for d in os.listdir(path) if d.startswith("z2_p=")]
    assert 0 < len(parts) <= 16
    assert all(len(d) == len("z2_p=") + DIGITS for d in parts)
    for name, read in readers.items():
        assert sorted(r["page_id"] for r in read(None).collect()) == want, name


_WRITERS = {"keyed", "write_store", "z2_keyed", "write_indexed",
            "write_indexed_xz2", "write_indexed_z3", "write_indexed_attr",
            "stream_ingest_indexed"}
_READERS = {"scan_store", "bbox_query", "bbox_query_xz2", "stbox_query_z3",
            "plan_query", "query_store", "attr_query", "store_cost",
            "choose_strategy", "planned_query", "prefix_digits"}


def test_store_width_defaults_are_one_constant():
    """Every store writer's prefix width defaults to ``store.DIGITS`` and
    every reader's to None (the store's own width): read from the source,
    so a writer cannot drift back to a literal default of its own."""
    import ast
    import inspect

    from geomesa_spark.plans import planner, store
    from geomesa_spark.streaming import ingest

    writers, readers = set(), set()
    for mod in (store, planner, ingest):
        for fn in ast.walk(ast.parse(inspect.getsource(mod))):
            if not isinstance(fn, ast.FunctionDef):
                continue
            args = fn.args.args + fn.args.kwonlyargs
            defaults = ([None] * (len(fn.args.args) - len(fn.args.defaults))
                        + fn.args.defaults + fn.args.kw_defaults)
            for a, d in zip(args, defaults):
                if not a.arg.endswith("digits") or d is None:
                    continue
                if fn.name in _WRITERS:
                    assert isinstance(d, ast.Name) and d.id == "DIGITS", fn.name
                    writers.add(fn.name)
                else:
                    assert isinstance(d, ast.Constant) and d.value is None, \
                        (fn.name, a.arg)
                    readers.add(fn.name)
    assert writers == _WRITERS and readers == _READERS


def test_prefixes_world_bbox_is_everything(spark):
    assert len(KEYSPACES["z2"].cover((-180, -90, 180, 90), 0, 0, 1)) == 16


@pytest.mark.parametrize("name", sorted(KEYSPACES))
def test_cover_rejects_invalid_input_on_every_keyspace(name):
    """An inverted window and a prefix length outside 1..min(15, key
    width) raise the same ValueError on every keyspace."""
    ks = KEYSPACES[name]
    assert ks.cover((-10.0, -10.0, 10.0, 10.0), 0, 604_799, 1)
    with pytest.raises(ValueError, match="inverted bbox"):
        ks.cover((10.0, -10.0, -10.0, 10.0), 0, 604_799, 2)
    with pytest.raises(ValueError, match="inverted bbox"):
        ks.cover((-10.0, 10.0, 10.0, -10.0), 0, 604_799, 2)
    for digits in (0, -1, 16, min(15, ks.width) + 1):
        with pytest.raises(ValueError, match="digits must be in"):
            ks.cover((-10.0, -10.0, 10.0, 10.0), 0, 604_799, digits)


def _brute_cover(decode, n_bits: int, digits: int, lows, highs) -> list[str]:
    """Every ``digits``-hex-char prefix of an ``n_bits``-bit Morton code
    whose box meets the normalized window [lows, highs]: the box of a
    prefix runs from the decode of its lowest code to that of its highest."""
    shift = np.uint64(n_bits - 4 * digits)
    p = np.arange(16 ** digits, dtype=np.uint64)
    lo = decode(p << shift)
    hi = decode(((p + np.uint64(1)) << shift) - np.uint64(1))
    meets = np.ones(len(p), dtype=bool)
    for a, b, w0, w1 in zip(lo, hi, lows, highs):
        meets &= (np.asarray(a) <= w1) & (np.asarray(b) >= w0)
    return [format(int(v), f"0{digits}x") for v in p[meets]]


def _cover_windows(seed: int, n: int) -> list[tuple]:
    rng = np.random.default_rng(seed)
    out = [(-180.0, -90.0, 180.0, 90.0),           # whole world
           (-74.0, 40.7, -74.0, 40.7),             # point-sized
           (-180.0, -90.0, -180.0, -90.0), (180.0, 90.0, 180.0, 90.0),
           (-190.0, -95.0, -170.0, -80.0),         # clamped at the edges
           (170.0, 80.0, 200.0, 100.0), (-200.0, 10.0, -185.0, 20.0),
           (-10.0, 91.0, 10.0, 95.0)]
    for _ in range(n):
        x0, y0 = rng.uniform(-185, 185), rng.uniform(-95, 95)
        w, h = rng.choice([0.0, 0.01, 1.0, 20.0, 200.0], size=2) * rng.random(2)
        out.append((x0, y0, x0 + w, y0 + h))
    return out


@pytest.mark.parametrize("digits", [1, 2, 3])
def test_z2_prefix_cover_matches_brute_force(digits):
    """The closed-form z2 cover is exactly the set of prefixes whose cell
    meets the window (clamped to the world, then normalized)."""
    from geomesa_spark.curves.sfc import Z2SFC
    from geomesa_spark.curves.zorder import z2_decode

    sfc = Z2SFC()
    for x0, y0, x1, y1 in _cover_windows(100 + digits, 150):
        nx = [int(sfc.lon.normalize(np.clip(v, -180, 180))) for v in (x0, x1)]
        ny = [int(sfc.lat.normalize(np.clip(v, -90, 90))) for v in (y0, y1)]
        want = _brute_cover(z2_decode, 62, digits, (nx[0], ny[0]), (nx[1], ny[1]))
        got = KEYSPACES["z2"].cover((x0, y0, x1, y1), 0, 0, digits)
        assert got == want, (x0, y0, x1, y1)


@pytest.mark.parametrize("digits", [1, 2])
def test_z3_prefix_cover_matches_brute_force(digits):
    """The closed-form z3 cover equals the brute-force prefix boxes that
    meet the normalized (lon, lat, week offset) window, for full and
    partial week-offset windows."""
    from geomesa_spark.curves.sfc import Z3SFC
    from geomesa_spark.curves.zorder import z3_decode

    sfc = Z3SFC("week")
    rng = np.random.default_rng(7 + digits)
    week = 604_799
    for x0, y0, x1, y1 in _cover_windows(200 + digits, 40):
        o0, o1 = sorted(int(v) for v in rng.integers(0, week + 1, 2))
        for off0, off1 in ((0, week), (o0, o1), (0, 0), (week, week)):
            nx = [int(sfc.lon.normalize(np.clip(v, -180, 180))) for v in (x0, x1)]
            ny = [int(sfc.lat.normalize(np.clip(v, -90, 90))) for v in (y0, y1)]
            nt = [int(sfc.time.normalize(float(v))) for v in (off0, off1)]
            want = _brute_cover(z3_decode, 63, digits, (nx[0], ny[0], nt[0]),
                                (nx[1], ny[1], nt[1]))
            got = KEYSPACES["z3"].cover((x0, y0, x1, y1), off0, off1, digits)
            assert got == want, (x0, y0, x1, y1, off0, off1)


def _spy_parquet(monkeypatch) -> list:
    """Record every DataFrameReader.parquet call (a store open)."""
    from pyspark.sql.readwriter import DataFrameReader

    calls = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **options):
        calls.append(paths)
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    return calls


_BOX = (-20.0, -10.0, 20.0, 10.0)


def _point_rows(ids):
    return [(int(i), float(i % 40) - 19.5, float(i % 20) - 9.5) for i in ids]


def _ids_in_box(spark, path):
    return sorted(r["pid"] for r in bbox_query(spark, path, *_BOX).collect())


def test_open_store_reuses_unchanged_store(spark, tmp_path, monkeypatch):
    """A repeated query on an unchanged store opens nothing again and
    returns the same rows."""
    path = str(tmp_path / "reuse")
    write_indexed(spark.createDataFrame(_point_rows(range(300)),
                                        "pid long, lon double, lat double"), path)
    calls = _spy_parquet(monkeypatch)
    first = _ids_in_box(spark, path)
    calls.clear()
    assert _ids_in_box(spark, path) == first and len(first) == 300
    assert calls == []


def test_open_store_sees_every_store_change(spark, tmp_path):
    """Each way the store's files change (an overwrite, a file published
    into an existing partition, a compaction) is seen by the next query."""
    import shutil

    from geomesa_spark.plans.store import compact_store

    schema = "pid long, lon double, lat double"
    path = str(tmp_path / "live")
    write_indexed(spark.createDataFrame(_point_rows(range(100)), schema), path)
    assert _ids_in_box(spark, path) == list(range(100))

    # overwrite the same path with different rows
    write_indexed(spark.createDataFrame(_point_rows(range(500, 560)), schema), path)
    assert _ids_in_box(spark, path) == list(range(500, 560))

    # publish a staged file into an existing partition by rename, the way
    # streaming ingest publishes a batch
    stage = str(tmp_path / "stage")
    write_indexed(spark.createDataFrame(_point_rows([500 + 40 * 7]), schema)
                  .coalesce(1), stage)
    (part,) = [d for d in os.listdir(stage) if d.startswith("z2_p=")]
    assert os.path.isdir(os.path.join(path, part))
    (src,) = [f for f in os.listdir(os.path.join(stage, part))
              if f.endswith(".parquet")]
    os.replace(os.path.join(stage, part, src),
               os.path.join(path, part, "batch-1-0.parquet"))
    shutil.rmtree(stage)
    want = sorted(list(range(500, 560)) + [780])
    assert _ids_in_box(spark, path) == want

    # compaction swaps the directory for a rewritten one
    compact_store(spark, path, ["z2_p"], sort_by=["z2_hex"])
    assert _ids_in_box(spark, path) == want


def test_open_store_keeps_sessions_apart(spark, tmp_path):
    """A new session sharing the context never gets another session's
    DataFrame for the same store."""
    from geomesa_spark.plans.store import open_store

    path = str(tmp_path / "sessions")
    write_indexed(spark.createDataFrame(_point_rows(range(50)),
                                        "pid long, lon double, lat double"), path)
    other = spark.newSession()
    for s in (spark, other, spark, other):
        df = open_store(s, path)
        assert df.sparkSession is s
        assert df._jdf.sparkSession().equals(s._jsparkSession)
    assert open_store(other, path) is not open_store(spark, path)


def test_partition_rows_in_manifest(spark, tmp_path):
    """partition_by stages record per-partition row counts (the
    per-partition lineage/metrics surface the salt planner reads)."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "parts")

    def build():
        return (spark.range(100)
                .withColumn("bucket", (F.col("id") % 4).cast("string"))
                .withColumn("v", F.col("id") * 2))

    r = run_stage(spark, "parts", p, build, params={}, partition_by=["bucket"])
    pr = r.manifest["partition_rows"]
    assert pr == {"0": 25, "1": 25, "2": 25, "3": 25}
    # resume keeps the recorded metrics
    r2 = run_stage(spark, "parts", p, build, params={}, partition_by=["bucket"])
    assert r2.skipped and r2.manifest["partition_rows"] == pr


def test_query_store_cql(spark, tmp_path):
    """ECQL in, planned scan out: row set == unpruned brute force; empty
    (disjoint AND) short-circuits."""
    from geomesa_spark.functions import register_functions
    from geomesa_spark.plans.store import query_store, write_indexed
    from geomesa_spark.sources.pages import generate_pages, geoparse

    register_functions(spark)
    pts = geoparse(generate_pages(spark, 3000, partitions=8)) \
        .select("url", "lon", "lat")
    path = str(tmp_path / "cql_store")
    write_indexed(pts, path)

    cql = ("(BBOX(geom, -75, 39.5, -72, 41.5) OR BBOX(geom, -1, 50, 1, 52)) "
           "AND url LIKE '%1%'")
    got = {r["url"] for r in query_store(spark, path, cql).collect()}
    in_a = (F.col("lon") >= -75) & (F.col("lon") <= -72) \
        & (F.col("lat") >= 39.5) & (F.col("lat") <= 41.5)
    in_b = (F.col("lon") >= -1) & (F.col("lon") <= 1) \
        & (F.col("lat") >= 50) & (F.col("lat") <= 52)
    brute = pts.filter((in_a | in_b) & F.col("url").contains("1"))
    assert got == {r["url"] for r in brute.collect()} and got

    empty = query_store(spark, path,
                        "BBOX(geom, 0, 0, 1, 1) AND BBOX(geom, 5, 5, 6, 6)")
    assert empty.count() == 0


def test_xz2_store_bbox_query(spark, tmp_path, pruned_on):
    """Extended-geometry store: xz2 partition pruning + envelope sidecar
    predicates return exactly the envelope-intersecting rows."""
    import numpy as np

    from geomesa_spark.geom.wkb import Polygon, wkb_write
    from geomesa_spark.plans.store import bbox_query_xz2, write_indexed_xz2

    rng = np.random.RandomState(11)
    rows = []
    for i in range(400):
        cx = rng.uniform(-170, 170)
        cy = rng.uniform(-80, 80)
        w = rng.uniform(0.1, 8.0)
        h = rng.uniform(0.1, 8.0)
        ring = np.array([[cx - w, cy - h], [cx - w, cy + h], [cx + w, cy + h],
                         [cx + w, cy - h], [cx - w, cy - h]])
        rows.append((i, bytearray(wkb_write(Polygon(ring))),
                     float(cx - w), float(cy - h), float(cx + w), float(cy + h)))
    df = spark.createDataFrame(
        [(r[0], bytes(r[1])) for r in rows], "gid long, geom binary")
    path = str(tmp_path / "xz2_store")
    write_indexed_xz2(df, path)

    qx0, qy0, qx1, qy1 = -30.0, -20.0, 10.0, 15.0
    out = bbox_query_xz2(spark, path, qx0, qy0, qx1, qy1)
    got = {r["gid"] for r in out.collect()}
    want = {r[0] for r in rows
            if r[2] <= qx1 and r[4] >= qx0 and r[3] <= qy1 and r[5] >= qy0}
    assert got == want and got
    pruned_on(out, "xz2_p")

    # the planner actually prunes: covering prefixes < all partitions
    prefixes = KEYSPACES["xz2"].cover((qx0, qy0, qx1, qy1), 0, 0, DIGITS)
    n_parts = spark.read.parquet(path).select("xz2_p").distinct().count()
    assert 0 < len(prefixes) < 16 ** DIGITS
    assert len(prefixes) < n_parts or n_parts < 8  # meaningful pruning


def test_plan_query_strategy_selection(spark, tmp_path):
    """StrategyDecider analog: bounded spatial -> z2-index, attribute-only
    or whole-world -> full-scan, disjoint -> empty."""
    from geomesa_spark.functions import register_functions
    from geomesa_spark.plans.store import plan_query, write_indexed
    from geomesa_spark.sources.pages import generate_pages, geoparse

    register_functions(spark)
    pts = geoparse(generate_pages(spark, 1500, partitions=8)) \
        .select("url", "lon", "lat")
    path = str(tmp_path / "strat_store")
    write_indexed(pts, path)

    _, p = plan_query(spark, path, "BBOX(geom, -75, 39.5, -72, 41.5)")
    assert p["strategy"] == "z2-index" and 0 < p["prefixes"] < 192

    _, p = plan_query(spark, path, "url LIKE 'http%'")
    assert p["strategy"] == "full-scan"

    _, p = plan_query(spark, path, "BBOX(geom, -180, -90, 180, 90)")
    assert p["strategy"] == "full-scan"      # whole-world: pruning useless

    _, p = plan_query(spark, path,
                      "BBOX(geom, 0, 0, 1, 1) AND BBOX(geom, 5, 5, 6, 6)")
    assert p["strategy"] == "empty"


def test_z3_store_stbox_query(spark, tmp_path, pruned_on):
    """Spatio-temporal store: (bin, z3-prefix) pruning returns exactly
    the box-and-interval rows; interior bins reuse the full-offset
    prefix set."""
    import numpy as np

    from geomesa_spark.plans.store import stbox_query_z3, write_indexed_z3

    rng = np.random.RandomState(3)
    n = 5000
    base = 1_600_000_000
    rows = [(int(i),
             float(rng.uniform(-170, 170)), float(rng.uniform(-80, 80)),
             int(base + rng.randint(0, 4 * 604_800)))   # 4 weeks
            for i in range(n)]
    df = spark.createDataFrame(rows, "pid long, lon double, lat double, secs long")
    path = str(tmp_path / "z3_store")
    write_indexed_z3(df, path)

    qx0, qy0, qx1, qy1 = -60.0, -30.0, 40.0, 35.0
    t0 = base + 3 * 86400          # mid-week start
    t1 = base + 16 * 86400         # spans 3 bins incl. one full interior
    out = stbox_query_z3(spark, path, qx0, qy0, qx1, qy1, t0, t1)
    got = {r["pid"] for r in out.collect()}
    want = {r[0] for r in rows
            if qx0 <= r[1] <= qx1 and qy0 <= r[2] <= qy1 and t0 <= r[3] < t1}
    assert got == want and got
    pruned_on(out, "z3_bin", "z3_p")

    # pruning is real: the window's prefixes are a strict subset
    pfx = KEYSPACES["z3"].cover((qx0, qy0, qx1, qy1), 0, 604_799, 2)
    assert 0 < len(pfx) < 256


def test_s3_store_stbox_query(spark, tmp_path, pruned_on):
    """S3 store (S2 cell + week bin): bin-range x covering-prefix pruning
    returns exactly the box-and-interval rows; the spatial prefix set is
    shared across bins (key orders cell before offset)."""
    import numpy as np

    rng = np.random.RandomState(7)
    n = 5000
    base = 1_600_000_000
    rows = [(int(i),
             float(rng.uniform(-170, 170)), float(rng.uniform(-80, 80)),
             int(base + rng.randint(0, 4 * 604_800)))   # 4 weeks
            for i in range(n)]
    df = spark.createDataFrame(rows, "pid long, lon double, lat double, secs long")
    path = str(tmp_path / "s3_store")
    s3 = KEYSPACES["s3"]
    write_store(df, path, s3)

    box = qx0, qy0, qx1, qy1 = -60.0, -30.0, 40.0, 35.0
    t0 = base + 3 * 86400
    t1 = base + 16 * 86400
    out = scan_store(spark, path, s3, box, (t0, t1))
    got = {r["pid"] for r in out.collect()}
    want = {r[0] for r in rows
            if qx0 <= r[1] <= qx1 and qy0 <= r[2] <= qy1 and t0 <= r[3] < t1}
    assert got == want and got
    pruned_on(out, "s3_bin", "s3_p")

    # pruning is real: the covering's prefixes are a strict subset
    pfx = s3.cover(box, 0, 604_799, 2)
    assert 0 < len(pfx) < 256

    # empty interval short-circuits
    assert scan_store(spark, path, s3, box, (t0, t0)).count() == 0


def test_xz3_store_stbox_query(spark, tmp_path, pruned_on):
    """Extended geometries + time: (bin, xz3-prefix) pruning returns
    exactly the envelope-and-interval rows."""
    import numpy as np

    from geomesa_spark.geom.wkb import Polygon, wkb_write

    rng = np.random.RandomState(5)
    base = 1_600_000_000
    rows = []
    for i in range(800):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
        w, h = rng.uniform(0.1, 6.0), rng.uniform(0.1, 6.0)
        t = int(base + rng.randint(0, 3 * 604_800))
        ring = np.array([[cx - w, cy - h], [cx - w, cy + h], [cx + w, cy + h],
                         [cx + w, cy - h], [cx - w, cy - h]])
        rows.append((i, bytes(wkb_write(Polygon(ring))), t,
                     cx - w, cy - h, cx + w, cy + h))
    df = spark.createDataFrame([(r[0], r[1], r[2]) for r in rows],
                               "gid long, geom binary, secs long")
    path = str(tmp_path / "xz3_store")
    xz3 = KEYSPACES["xz3"]
    write_store(df, path, xz3)

    box = qx0, qy0, qx1, qy1 = -40.0, -25.0, 30.0, 30.0
    t0, t1 = base + 2 * 86400, base + 12 * 86400
    out = scan_store(spark, path, xz3, box, (t0, t1))
    got = {r["gid"] for r in out.collect()}
    want = {r[0] for r in rows
            if r[3] <= qx1 and r[5] >= qx0 and r[4] <= qy1 and r[6] >= qy0
            and t0 <= r[2] < t1}
    assert got == want and got
    pruned_on(out, "xz3_bin", "xz3_p")

    pfx = xz3.cover(box, 0, 604_799, 2)
    assert 0 < len(pfx) < 256


def test_xz3_key_of_null_dtg_is_deterministic():
    """A null dtg (NaN in the Arrow batch) keys without numpy's invalid
    cast warning, to the same key every time."""
    import warnings

    import pandas as pd

    from geomesa_spark.plans.store import _xz3_codes

    env = [np.array([v, v]) for v in (1.0, 2.0, 3.0, 4.0)]
    secs = pd.Series([1_600_000_000, None]).to_numpy()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        a = _xz3_codes(*env, secs)
        b = _xz3_codes(*env, secs)
    assert np.array_equal(a, b)


def _sql_plans(spark, run) -> list[str]:
    """Physical plan descriptions of the SQL executions ``run`` starts."""
    store = spark._jsparkSession.sharedState().statusStore()
    seq = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty(30_000)
    seen = {e.executionId() for e in seq(store.executionsList())}
    run()
    bus.waitUntilEmpty(30_000)
    return [e.physicalPlanDescription() for e in seq(store.executionsList())
            if e.executionId() not in seen]


def test_z2_z3_store_writes_run_no_python(spark, tmp_path):
    """The z2 and z3 store keys are JVM expressions: their writes hold no
    Python evaluation node (the xz2 write, whose key has no closed form,
    still does)."""
    rows = [(i, -74.0 + i * 0.01, 40.0 + i * 0.01, 1_600_000_000 + i * 3600)
            for i in range(50)]
    df = spark.createDataFrame(rows, "pid long, lon double, lat double, secs long")
    for name in ("z2", "z3"):
        plans = _sql_plans(spark, lambda: write_store(
            df, str(tmp_path / name), KEYSPACES[name]))
        assert any("InsertIntoHadoopFsRelationCommand" in p for p in plans), name
        for p in plans:
            assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, name
    geoms = df.withColumn("geom", F.expr("st_asBinary(st_makePoint(lon, lat))"))
    plans = _sql_plans(spark, lambda: write_store(
        geoms, str(tmp_path / "xz2"), KEYSPACES["xz2"]))
    assert any("ArrowEvalPython" in p for p in plans)


def test_query_guard_rejects_unbounded(spark, tmp_path):
    from geomesa_spark.functions import register_functions
    from geomesa_spark.plans.store import plan_query, write_indexed

    register_functions(spark)
    pts = spark.createDataFrame([(1, 0.0, 0.0)], "pid long, lon double, lat double")
    path = str(tmp_path / "guard_store")
    write_indexed(pts, path)
    with pytest.raises(ValueError, match="query guard"):
        plan_query(spark, path, "pid > 0", require_bounded=True)
    df, p = plan_query(spark, path, "BBOX(geom, -1, -1, 1, 1)",
                       require_bounded=True)
    assert p["strategy"] == "z2-index" and df.count() == 1


def test_attr_store_query(spark, tmp_path, pruned_on):
    """Attribute index: bucket + z2 partition pruning, exact row set."""
    from geomesa_spark.plans.store import attr_query, write_indexed_attr

    n = 20_000
    pts = generate_points(spark, n, partitions=4).withColumn(
        "cat", F.concat(F.lit("c"), (F.col("page_id") % 5).cast("string")))
    path = str(tmp_path / "astore")
    write_indexed_attr(pts, path, "cat", digits=1, max_buckets=16)

    got = attr_query(spark, path, "cat", "c3", digits=1, max_buckets=16)
    rows = sorted(r["page_id"] for r in got.collect())
    assert rows == [i for i in range(n) if i % 5 == 3]
    pruned_on(got, "attr_b")

    bbox = (-75.0, 39.5, -72.0, 41.5)
    gotb = attr_query(spark, path, "cat", "c3", bbox=bbox, digits=1,
                      max_buckets=16)
    ids = np.arange(n, dtype=np.int64)
    lon, lat = page_coords(ids)
    keep = (ids % 5 == 3) & (lon >= bbox[0]) & (lon <= bbox[2]) \
        & (lat >= bbox[1]) & (lat <= bbox[3])
    assert sorted(r["page_id"] for r in gotb.collect()) == \
        sorted(ids[keep].tolist())

    pruned_on(gotb, "attr_b", "z2_p")
    plan = gotb._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan

    # a Python int against a bigint attribute hashes as the bigint the
    # writer hashed, so the query finds its bucket
    ipath = str(tmp_path / "astore_long")
    write_indexed_attr(pts.filter(F.col("page_id") < 500)
                       .withColumn("kind", F.col("page_id") % 5),
                       ipath, "kind", digits=1, max_buckets=16)
    goti = attr_query(spark, ipath, "kind", 3, digits=1, max_buckets=16)
    assert sorted(r["page_id"] for r in goti.collect()) == \
        [i for i in range(500) if i % 5 == 3]
    pruned_on(goti, "attr_b")


def test_compact_store_binpacks_and_sorts(spark, tmp_path):
    from geomesa_spark.plans.store import bbox_query, compact_store

    n = 20_000
    pts = generate_points(spark, n, partitions=8)
    path = str(tmp_path / "cstore")
    write_indexed(pts, path, digits=1)
    stats = compact_store(spark, path, ["z2_p"], sort_by=["z2_hex"])
    assert stats["rows"] == n
    assert stats["files_after"] < stats["files_before"]
    # one file per partition dir
    import glob as _glob
    for d in _glob.glob(f"{path}/z2_p=*"):
        assert len(_glob.glob(f"{d}/*.parquet")) == 1
    # store still answers queries identically
    bbox = (-75.0, 39.5, -72.0, 41.5)
    got = sorted(r["page_id"]
                 for r in bbox_query(spark, path, *bbox, digits=1).collect())
    ids = np.arange(n, dtype=np.int64)
    lon, lat = page_coords(ids)
    want = sorted(ids[(lon >= bbox[0]) & (lon <= bbox[2])
                      & (lat >= bbox[1]) & (lat <= bbox[3])].tolist())
    assert got == want


def test_crawl_to_training_pipeline_checkpointed(spark, tmp_path):
    """End-to-end crawl -> training-data pipeline, every stage through
    plans.checkpoint.run_stage: extract (north-rule byte-identical text
    invariant), Gopher gates, exact dedup, near dedup, benchmark
    decontamination, context chunking. A second driver run replays the
    identical program and every stage must no-op (resume); bumping one
    mid-pipeline param must rebuild that stage and everything downstream
    while upstream stages stay checkpointed (lineage)."""
    from geomesa_spark.operators.corpus import (
        chunk_text, dedup_apply, decontaminate, extract_html_text,
        gopher_quality,
    )
    from geomesa_spark.operators.dedup import exact_dedup, ngram_jaccard_pairs
    from geomesa_spark.sources.pages import generate_pages

    base = str(tmp_path)
    built = []

    def stage(name, build, inputs=None, params=None):
        def counted():
            built.append(name)
            return build()
        return run_stage(spark, name, f"{base}/{name}", counted,
                         inputs=inputs or [], params=params or {})

    def run_all(min_words=5):
        r_raw = stage("raw", lambda: generate_pages(spark, 400)
                      .select("url", "html", "text", "lang"),
                      params={"n": 400})

        def build_extract():
            df = r_raw.df.withColumn("etext", extract_html_text(F.col("html")))
            # the input_hint per-row invariant: byte-identical extracted
            # text per url
            assert df.filter(F.col("etext") != F.col("text")).count() == 0
            return df.select(
                F.xxhash64("url").alias("doc_id"), "url",
                F.col("etext").alias("text"), "lang",
                F.split("etext", " ")[1].cast("long").alias("pid"))
        r_ex = stage("extracted", build_extract, inputs=[r_raw])

        def build_corpus():
            d = r_ex.df
            recrawl = (d.filter(F.col("pid") < 30)
                        .withColumn("url", F.concat("url", F.lit("?recrawl")))
                        .withColumn("doc_id", F.xxhash64("url")))
            variant = (d.filter((F.col("pid") >= 30) & (F.col("pid") < 50))
                        .withColumn("url", F.concat("url", F.lit("?v2")))
                        .withColumn("doc_id", F.xxhash64("url"))
                        .withColumn("text", F.concat("text", F.lit(" extra"))))
            junk = spark.createDataFrame(
                [(-(i + 1), f"junk{i}", "### ### ###", "en", -1)
                 for i in range(5)],
                "doc_id long, url string, text string, lang string, pid long")
            return d.unionByName(recrawl).unionByName(variant) \
                    .unionByName(junk)
        r_corpus = stage("corpus", build_corpus, inputs=[r_ex])

        def build_gated():
            g = gopher_quality(r_corpus.df, "doc_id", "text",
                               min_words=min_words, max_words=100,
                               max_mean_word_len=12,
                               min_alpha_word_ppm=400_000, min_stopwords=0)
            return r_corpus.df.join(g.filter("keep").select("doc_id"),
                                    on="doc_id", how="left_semi")
        r_gated = stage("gated", build_gated, inputs=[r_corpus],
                        params={"min_words": min_words})

        def build_exact():
            keep = exact_dedup(r_gated.df, "doc_id", "text") \
                .select(F.col("keep_id").alias("doc_id"))
            return r_gated.df.join(keep, on="doc_id", how="left_semi")
        r_exact = stage("exact_deduped", build_exact, inputs=[r_gated])

        def build_near():
            pairs = ngram_jaccard_pairs(r_exact.df, "doc_id", "text",
                                        n=3, threshold=0.8)
            return dedup_apply(r_exact.df, pairs, "doc_id")
        r_near = stage("near_deduped", build_near, inputs=[r_exact])

        def build_clean():
            ev = r_near.df.filter(F.col("pid").isin(100, 200, 300)) \
                          .select("doc_id", "text")
            flagged = decontaminate(r_near.df, ev, "doc_id", "text", n=8)
            return r_near.df.join(flagged.select("doc_id"),
                                  on="doc_id", how="left_anti")
        r_clean = stage("decontaminated", build_clean, inputs=[r_near])

        r_chunks = stage("chunks", lambda: chunk_text(
            r_clean.df, "doc_id", "text", chunk_tokens=4, overlap=1),
            inputs=[r_clean])
        return [r_raw, r_ex, r_corpus, r_gated, r_exact, r_near,
                r_clean, r_chunks]

    rs = run_all()
    counts = [r.manifest["row_count"] for r in rs]
    assert counts == [400, 400, 455, 450, 420, 400, 397, 397 * 3]
    assert all(not r.skipped for r in rs)
    assert built == ["raw", "extracted", "corpus", "gated",
                     "exact_deduped", "near_deduped", "decontaminated",
                     "chunks"]

    # resume: identical program -> every stage no-ops off its manifest
    built.clear()
    rs2 = run_all()
    assert all(r.skipped for r in rs2) and built == []
    assert [r.manifest["row_count"] for r in rs2] == counts

    # lineage: bump a mid-pipeline param -> that stage and everything
    # downstream rebuild; upstream stages stay checkpointed
    built.clear()
    rs3 = run_all(min_words=4)
    assert [r.skipped for r in rs3] == [True, True, True] + [False] * 5
    assert built == ["gated", "exact_deduped", "near_deduped",
                     "decontaminated", "chunks"]
    assert [r.manifest["row_count"] for r in rs3] == counts  # junk is
    # 3 words — still below the loosened gate; content identical


def test_z3_store_age_off_query(spark, tmp_path, pruned_on):
    """Age-off retention scan: exactly the rows inside [now-ttl, now),
    and whole expired week-bins are pruned at the partition level (the
    executed plan's PartitionFilters carry z3_bin)."""
    import numpy as np

    from geomesa_spark.plans.store import write_indexed_z3

    rng = np.random.RandomState(7)
    base = 1_600_000_000
    rows = [(int(i),
             float(rng.uniform(-170, 170)), float(rng.uniform(-80, 80)),
             int(base + rng.randint(0, 4 * 604_800)))   # 4 weeks
            for i in range(4000)]
    df = spark.createDataFrame(rows, "pid long, lon double, lat double, secs long")
    path = str(tmp_path / "ageoff_store")
    write_indexed_z3(df, path)

    now = base + 4 * 604_800
    ttl = 10 * 86400   # horizon lands mid-week: oldest ~2.5 weeks expire
    out = scan_store(spark, path, KEYSPACES["z3"], None, (now - ttl, now))
    got = {r["pid"] for r in out.collect()}
    want = {r[0] for r in rows if now - ttl <= r[3] < now}
    assert got == want and got and len(got) < len(rows)

    pruned_on(out, "z3_bin")


def test_inverted_index_store_query(spark, tmp_path, pruned_on):
    """Posting correctness vs a brute force over the same tokenization,
    case-normalized query terms, and hash-prefix partition pruning
    visible in the executed plan."""
    from geomesa_spark.plans.text_index import (term_query,
                                                write_inverted_index)

    rows = [(0, "the Hash join beats the hash LOOP"),
            (1, "vector scan"),
            (2, "no match here"),
            (3, "hash")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "tidx")
    write_inverted_index(df, path)

    out = term_query(spark, path, ["HASH", "vector"])
    got = {(r.term, r.doc_id): (r.tf, r.first_pos, list(r.positions))
           for r in out.collect()}
    assert got == {
        ("hash", 0): (2, 1, [1, 5]),
        ("hash", 3): (1, 0, [0]),
        ("vector", 1): (1, 0, [0]),
    }
    pruned_on(out, "term_p")

    # the term prefixes are folded literals: building the query starts
    # no Spark job
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def job_ids():
        bus.waitUntilEmpty(30_000)
        return set(tracker.getJobIdsForGroup(None))

    before = job_ids()
    term_query(spark, path, ["HASH", "vector"])
    assert job_ids() == before

    import pytest
    with pytest.raises(ValueError, match="at least one term"):
        term_query(spark, path, [])


def test_inverted_index_phrase_query(spark, tmp_path):
    """Phrase search from the store matches a direct-text brute force,
    incl. overlapping and repeated-term phrases; validation."""
    import pytest

    from geomesa_spark.plans.text_index import (phrase_query,
                                                write_inverted_index)

    rows = [(0, "the hash join beats the hash join loop"),
            (1, "hash join"),
            (2, "join hash"),
            (3, "hash"),
            (4, "go go go"),
            (5, "a go go stop")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "tidx_p")
    write_inverted_index(df, path)

    def brute(phrase):
        toks = phrase.lower().split()
        out = {}
        for i, t in rows:
            ws = t.lower().split()
            st = [j for j in range(len(ws) - len(toks) + 1)
                  if ws[j:j + len(toks)] == toks]
            if st:
                out[i] = (len(st), st[0])
        return out

    for phrase in ("hash join", "go go", "the hash join"):
        got = {r.doc_id: (r.n_matches, r.first_start)
               for r in phrase_query(spark, path, phrase).collect()}
        assert got == brute(phrase), phrase

    with pytest.raises(ValueError, match="non-empty"):
        phrase_query(spark, path, "   ")


def test_inverted_index_ranked_query_parity(spark, tmp_path):
    """Store-served BM25 is bit-identical to the raw-text scorer over
    the same corpus and terms (absent terms contribute an exact +0.0,
    df/N/dl all exact integers); validation."""
    import pytest
    from pyspark.sql import functions as F

    from geomesa_spark.operators.text import bm25_score
    from geomesa_spark.plans.text_index import (ranked_query,
                                                write_inverted_index)

    rows = [(0, "hash join hash join scan"),
            (1, "vector scan filter"),
            (2, "merge sort order by"),
            (3, "hash"),
            (4, "the hash vector vector mix")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "tidx_r")
    write_inverted_index(df, path)
    terms = ["hash", "vector"]
    store = [(r.doc_id, r.dl, r.score32, r.rank)
             for r in ranked_query(spark, path, terms, k=10).collect()]
    raw = bm25_score(df, "doc_id", "text", terms) \
        .orderBy(F.col("score32").desc(), "doc_id").limit(10).collect()
    assert store == [(r.doc_id, r.dl, r.score32, i + 1)
                     for i, r in enumerate(raw)]
    with pytest.raises(ValueError, match="at least one term"):
        ranked_query(spark, path, [])
    with pytest.raises(ValueError, match="k >="):
        ranked_query(spark, path, terms, k=0)


def test_inverted_index_append_equals_rebuild(spark, tmp_path):
    """Disjoint-id append produces exactly the postings and ranking of
    a full single build — rerunning overwrite+append is idempotent."""
    from geomesa_spark.plans.text_index import (append_inverted_index,
                                                ranked_query, term_query,
                                                write_inverted_index)

    rows = [(i, t) for i, t in enumerate(
        ["hash join scan", "vector filter", "hash hash", "merge sort",
         "vector hash join", "plain text row"])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = str(tmp_path / "tidx_full")
    inc = str(tmp_path / "tidx_inc")
    write_inverted_index(df, full)
    for _ in range(2):   # idempotent overwrite + append
        write_inverted_index(df.filter("doc_id % 2 = 0"), inc)
        append_inverted_index(df.filter("doc_id % 2 = 1"), inc)

    def snap(path, fn, *a, **kw):
        return sorted(tuple(r) for r in fn(spark, path, *a, **kw).collect())

    assert snap(inc, term_query, ["hash", "vector"]) == \
        snap(full, term_query, ["hash", "vector"])
    assert snap(inc, ranked_query, ["hash", "vector"], k=10) == \
        snap(full, ranked_query, ["hash", "vector"], k=10)
