"""Edge-case hardening: empty inputs, null geometries, degenerate
windows — operators must return empty/clean results, not throw."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_pip_join_empty_sides(spark):
    from geomesa_spark.geom.wkb import Polygon, wkb_write
    from geomesa_spark.operators.spatial_join import pip_join
    import numpy as np

    ring = np.array([[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]], dtype=float)
    polys = spark.createDataFrame([(1, bytes(wkb_write(Polygon(ring))))],
                                  "poly_id long, geom binary")
    no_pts = spark.createDataFrame([("x", 0.0, 0.0)], "url string, lon double, lat double").limit(0)
    assert pip_join(no_pts, polys, "lon", "lat", "geom",
                    broadcast_polys=True).count() == 0
    pts = spark.createDataFrame([("a", 5.0, 5.0)], "url string, lon double, lat double")
    no_polys = spark.createDataFrame([(0, b"")], "poly_id long, geom binary").limit(0)
    assert pip_join(pts, no_polys, "lon", "lat", "geom",
                    broadcast_polys=True).count() == 0
    assert pip_join(pts, no_polys, "lon", "lat", "geom").count() == 0


def test_pip_join_null_geometry_rows(spark):
    from geomesa_spark.geom.wkb import Polygon, wkb_write
    from geomesa_spark.operators.spatial_join import pip_join
    import numpy as np

    ring = np.array([[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]], dtype=float)
    polys = spark.createDataFrame(
        [(1, bytes(wkb_write(Polygon(ring)))), (2, None)],
        "poly_id long, geom binary")
    pts = spark.createDataFrame([("a", 5.0, 5.0), ("b", None, None)],
                                "url string, lon double, lat double")
    out = pip_join(pts.filter(F.col("lon").isNotNull()), polys, "lon", "lat",
                   "geom", broadcast_polys=True)
    assert {(r["url"], r["poly_id"]) for r in out.collect()} == {("a", 1)}


def test_knn_fewer_points_than_k(spark):
    from geomesa_spark.operators.knn import knn_join

    q = spark.createDataFrame([(0, 0.0, 0.0)], "qid long, qx double, qy double")
    d = spark.createDataFrame([(1, 1.0, 1.0), (2, 2.0, 2.0)],
                              "did long, lon double, lat double")
    out = knn_join(q, d, k=5, query_id="qid", qx="qx", qy="qy",
                   dx="lon", dy="lat", data_id="did",
                   initial_radius=5.0, max_radius=50.0, max_rounds=3)
    assert out.count() == 2   # returns what exists, ranked


def test_knn_completeness_fallback_sparse_data(spark):
    """A query whose k neighbors are spread across the world (at 1, 150
    and 200 degrees) gets the EXACT top-k: its count-seeded radius
    reaches the block of cells holding all three, whatever the
    ``initial_radius``/``max_rounds`` it passes."""
    from geomesa_spark.operators.knn import knn_join

    q = spark.createDataFrame([(0, 0.0, 0.0)], "qid long, qx double, qy double")
    d = spark.createDataFrame(
        [(1, 1.0, 0.0), (2, 150.0, 0.0), (3, -160.0, 40.0)],
        "did long, lon double, lat double")
    out = knn_join(q, d, k=3, query_id="qid", qx="qx", qy="qy",
                   dx="lon", dy="lat", data_id="did",
                   initial_radius=0.5, max_radius=405.0, max_rounds=3)
    got = {(r["did"], r["rank"]) for r in out.collect()}
    assert got == {(1, 1), (2, 2), (3, 3)}


def test_dedup_empty_and_trivial_docs(spark):
    from geomesa_spark.operators.dedup import minhash_dedup_pairs, simhash_dedup_pairs

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one"), (4, None)],
        "doc_id long, text string")
    mh = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.9)
    pairs = {(r["id_a"], r["id_b"]) for r in mh.collect()}
    assert (2, 3) in pairs           # identical one-word docs pair up
    assert all(4 not in p for p in pairs)  # null text never pairs
    sh = simhash_dedup_pairs(docs, "doc_id", "text", max_hamming=0)
    assert (2, 3) in {(r["id_a"], r["id_b"]) for r in sh.collect()}


def test_extract_bounds_degenerate_window(spark):
    from geomesa_spark.functions.cql import extract_bounds

    # zero-area bbox is still a valid (point) window
    b = extract_bounds("BBOX(geom, 5, 5, 5, 5)", "geom")
    assert b == [(5.0, 5.0, 5.0, 5.0)]


def test_store_query_outside_data(spark, tmp_path):
    from geomesa_spark.plans.store import bbox_query, write_indexed

    pts = spark.createDataFrame([(1, 10.0, 10.0)], "pid long, lon double, lat double")
    path = str(tmp_path / "tiny_store")
    write_indexed(pts, path)
    assert bbox_query(spark, path, -170.0, -80.0, -160.0, -70.0).count() == 0


def test_shingle_k4_order_sensitive():
    """Review regression: distinct per-position multipliers — reordered
    tails must not collide for shingle_k >= 4."""
    import numpy as np

    from geomesa_spark.operators.dedup import _shingle_hashes

    a = _shingle_hashes("w x c d", 4)
    b = _shingle_hashes("w x d c", 4)
    assert not np.array_equal(a, b)
    c = _shingle_hashes("a b c c d", 5)   # repeated word must not cancel
    assert int(c[0]) != 0


def test_shingle_short_doc_order_and_repeat():
    """Advice regression: sub-k-word docs use position-dependent
    multipliers — repeated words must not self-cancel to 0 and permuted
    short docs must not collide."""
    from geomesa_spark.operators.dedup import _shingle_hashes

    assert int(_shingle_hashes("x x", 3)[0]) != 0
    assert int(_shingle_hashes("x x", 3)[0]) != int(_shingle_hashes("y y", 3)[0])
    assert int(_shingle_hashes("a b", 3)[0]) != int(_shingle_hashes("b a", 3)[0])


def test_converter_required_typo_raises(spark):
    import pytest

    from geomesa_spark.sources.converter import convert

    df = spark.createDataFrame([("a", 1)], "k string, v int")
    with pytest.raises(ValueError, match="not in the field spec"):
        convert(df, {"fid": "k"}, required=["fidd"], error_mode="raise")


def test_ttl_by_cql_attribute_predicate(spark, tmp_path):
    """Review regression: dynamic-expiry rules on arbitrary source
    attributes (not just id/ts/lon/lat) must resolve."""
    import json
    import os
    import time

    from geomesa_spark.functions import register_functions
    from geomesa_spark.streaming.upsert import upsert_cache

    register_functions(spark)
    src = str(tmp_path / "attr_ttl")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in [{"feature_id": "p1", "ts": 1, "lon": 0.0, "lat": 0.0,
                   "kind": "plane"},
                  {"feature_id": "s1", "ts": 1, "lon": 0.0, "lat": 0.0,
                   "kind": "ship"}]:
            f.write(json.dumps(r) + "\n")
    stream = spark.readStream.schema(
        "feature_id string, ts long, lon double, lat double, kind string").json(src)
    out = upsert_cache(stream, ttl_ms=3_600_000,
                       ttl_by_cql=[("kind = 'plane'", 1000)])
    q = (out.writeStream.format("memory").queryName("attr_ttl")
            .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(40)  # stateful availableNow never self-terminates
    q.stop()
    rows = {r["feature_id"]: r["op"]
            for r in spark.sql("select * from attr_ttl").collect()}
    assert rows == {"p1": "upsert", "s1": "upsert"}


def test_stat_dsl(spark):
    """The reference's stat-spec strings evaluate as Spark aggregations."""
    from geomesa_spark.operators.stats import parse_stats, run_stats
    import pytest

    df = spark.createDataFrame(
        [(i, float(i % 10), ["a", "b", "c"][i % 3]) for i in range(100)],
        "id long, v double, tag string")
    out = run_stats(df, "Count();MinMax(v);DescriptiveStats(v);"
                        "TopK(tag,2);Enumeration(tag);"
                        "Histogram(v,5,0,10);GroupBy(tag,Count())")
    assert out["count"] == 100
    assert (out["minmax_v_min"], out["minmax_v_max"]) == (0.0, 9.0)
    assert out["descriptivestats_v_count"] == 100
    assert abs(out["descriptivestats_v_mean"] - 4.5) < 1e-9
    assert out["topk_tag"] == {"a": 34, "b": 33}
    assert out["enumeration_tag"] == {"a": 34, "b": 33, "c": 33}
    assert out["histogram_v"] == [20, 20, 20, 20, 20]
    assert out["groupby_tag_count"] == {"a": 34, "b": 33, "c": 33}
    out2 = run_stats(df, "Frequency(tag);IteratorStackCount()")
    assert isinstance(out2["frequency_tag"], (bytes, bytearray))
    assert out2["iteratorstackcount"] >= 1
    with pytest.raises(ValueError, match="bad stat spec"):
        parse_stats("Nope(")


def test_stat_dsl_spatiotemporal_terms(spark):
    """Cardinality (HLL), Z3Histogram, Z3Frequency; bounded collects."""
    import numpy as np
    from pyspark.sql import functions as F

    from geomesa_spark.curves.sfc import Z3SFC
    from geomesa_spark.operators.stats import run_stats, z3_cell_exprs

    rng = np.random.RandomState(3)
    n = 500
    lon = rng.uniform(-179, 179, n)
    lat = rng.uniform(-89, 89, n)
    secs = rng.randint(0, 4 * 604800, n)
    df = spark.createDataFrame(
        [(float(lon[i]), float(lat[i]), int(secs[i])) for i in range(n)],
        "lon double, lat double, secs long")

    out = run_stats(df, "Cardinality(secs);Z3Histogram(lon,lat,secs,5);"
                        "Z3Frequency(lon,lat,secs,5)")
    # HLL within its standard error of the exact count
    exact = df.select("secs").distinct().count()
    assert abs(out["cardinality_secs"] - exact) <= 0.1 * exact
    assert isinstance(out["z3frequency_lon"], (bytes, bytearray))

    # the JVM z3 expression matches the numpy curve bit-for-bit
    hist = out["z3histogram_lon_lat_secs_5"]
    assert sum(hist.values()) == n
    sfc = Z3SFC("week")
    bins, z = sfc.index_millis(lon, lat, secs.astype(np.int64) * 1000)
    cells = np.asarray(z) >> (3 * (21 - 5))
    expected: dict = {}
    for b, c in zip(bins, cells):
        expected[(int(b), int(c))] = expected.get((int(b), int(c)), 0) + 1
    assert hist == expected

    # max_enum caps grouped collects (most-frequent first)
    capped = run_stats(df, "Enumeration(secs)", max_enum=7)
    assert len(capped["enumeration_secs"]) == 7


def test_multimodal_decoder_seam(spark):
    """The decode step is injectable: a trivial pure-python decoder runs
    inside the mapInPandas batch loop; the default deterministic fake
    stays byte-stable."""
    from geomesa_spark.operators.multimodal import (
        decode_image_features, sample_video_frames)

    rows = [(1, bytearray(b"abc"), 2500), (2, bytearray(b"xy"), 900),
            (3, None, 1000)]
    df = spark.createDataFrame(rows, "media_id long, content binary, duration_ms long")

    def byte_sum_decoder(b):
        return [float(sum(b)), float(len(b))]

    got = {r.media_id: r.features
           for r in decode_image_features(df, decoder=byte_sum_decoder).collect()}
    assert got[1] == [float(sum(b"abc")), 3.0]
    assert got[2] == [float(sum(b"xy")), 2.0]
    assert got[3] is None

    # default fake: deterministic across calls, unit-norm, dim honored
    import numpy as np
    a = {r.media_id: r.features for r in decode_image_features(df, dim=8).collect()}
    b = {r.media_id: r.features for r in decode_image_features(df, dim=8).collect()}
    assert a == b and len(a[1]) == 8
    assert abs(np.linalg.norm(a[1]) - 1.0) < 1e-5

    def two_frame_decoder(b, dur):
        return [(0, b"f0"), (1, b"f1")]

    frames = sample_video_frames(df, decoder=two_frame_decoder).collect()
    assert {(r.media_id, r.frame_idx) for r in frames} == {(1, 0), (1, 1), (2, 0), (2, 1)}
    # default pseudo-frame fake: one frame per second of duration
    dflt = sample_video_frames(df).collect()
    assert sum(1 for r in dflt if r.media_id == 1) == 2  # 2500ms // 1000


def test_z3_cell_expr_domain_boundary(spark):
    """lon=180 / lat=90 must land in the MAX cell (BitNormalizedDimension
    clamps the domain maximum onto max_index), not wrap to cell 0 — the
    JVM expression must match the numpy curve at the boundary."""
    import numpy as np

    from geomesa_spark.curves.sfc import Z3SFC
    from geomesa_spark.operators.stats import run_stats

    pts = [(180.0, 90.0, 1000), (-180.0, -90.0, 1000),
           (180.0, -90.0, 50_000), (179.9999999, 89.9999999, 1000),
           (0.0, 0.0, 604799)]
    df = spark.createDataFrame(pts, "lon double, lat double, secs long")
    hist = run_stats(df, "Z3Histogram(lon,lat,secs,5)")["z3histogram_lon_lat_secs_5"]

    lon = np.array([p[0] for p in pts])
    lat = np.array([p[1] for p in pts])
    ms = np.array([p[2] for p in pts], dtype=np.int64) * 1000
    sfc = Z3SFC("week")
    bins, z = sfc.index_millis(lon, lat, ms)
    cells = np.asarray(z) >> (3 * (21 - 5))
    expected: dict = {}
    for b, c in zip(bins, cells):
        expected[(int(b), int(c))] = expected.get((int(b), int(c)), 0) + 1
    assert hist == expected


def test_run_stats_label_collisions_and_groupby_cap(spark):
    """Repeated terms must not silently overwrite each other, and the
    GroupBy cap keeps the LARGEST groups (most-frequent-first), not the
    smallest keys."""
    from pyspark.sql import functions as F

    from geomesa_spark.operators.stats import run_stats

    df = spark.range(0, 100).select(
        F.col("id").cast("double").alias("v"),
        (F.col("id") % 10).alias("tag"),          # tag 0..9, 10 rows each
        (F.col("id") % 3).cast("double").alias("w"))
    out = run_stats(df, "Histogram(v,2,0,100);Histogram(v,4,0,100)")
    assert out["histogram_v"] == [50, 50]
    assert out["histogram_v_2"] == [25, 25, 25, 25]

    # two Z3-histogram levels: distinct keys
    df2 = spark.createDataFrame([(10.0, 20.0, 1000), (11.0, 21.0, 2000)],
                                "lon double, lat double, secs long")
    out2 = run_stats(df2, "Z3Histogram(lon,lat,secs,3);Z3Histogram(lon,lat,secs,5)")
    assert "z3histogram_lon_lat_secs_3" in out2
    assert "z3histogram_lon_lat_secs_5" in out2

    # GroupBy cap: skewed tags — the cap keeps the biggest groups
    sk = spark.range(0, 100).select(
        F.when(F.col("id") < 60, "hot")
         .when(F.col("id") < 90, "warm").otherwise("cold").alias("tag"),
        F.col("id").cast("double").alias("v"))
    capped = run_stats(sk, "GroupBy(tag,Count())", max_enum=2)
    assert set(capped["groupby_tag_count"]) == {"hot", "warm"}
