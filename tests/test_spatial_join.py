"""Spatial-join equivalence: cell-cover prefilter + refine must produce the
exact row set of a brute-force oracle (the reference asserts count equality
for 999 points x 999 polys, SparkSQLDataTest.scala:404-458; we assert the
full pair set on seeded data)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_spark.geom.kernels import pip_rings
from geomesa_spark.operators.spatial_join import pip_join, spatial_join
from geomesa_spark.sources.pages import generate_pages, generate_polys, geoparse, page_coords

N_PAGES = 400
N_POLYS = 150


@pytest.fixture(scope="module")
def pages_points(spark):
    pts = geoparse(generate_pages(spark, N_PAGES, partitions=4))
    return pts.select("url", "lon", "lat").cache()


@pytest.fixture(scope="module")
def polys(spark):
    return generate_polys(spark, N_POLYS).cache()


def brute_force_pairs(points_pd, polys_pd, strict: bool):
    """Oracle: vectorized PIP per polygon over ALL points."""
    px = points_pd["lon"].to_numpy()
    py = points_pd["lat"].to_numpy()
    urls = points_pd["url"].to_numpy()
    pairs = set()
    for _, row in polys_pd.iterrows():
        ring = np.array([
            [row.xmin, row.ymin], [row.xmin, row.ymax],
            [row.xmax, row.ymax], [row.xmax, row.ymin], [row.xmin, row.ymin],
        ])
        loc = pip_rings(px, py, [ring])
        hit = (loc == 1) if strict else (loc >= 0)
        for u in urls[hit]:
            pairs.add((u, row.poly_id))
    return pairs


class TestPipJoin:
    def test_contains_matches_bruteforce(self, spark, pages_points, polys):
        joined = pip_join(pages_points, polys, "lon", "lat", "geom",
                          predicate="st_contains")
        got = {(r.url, r.poly_id) for r in joined.select("url", "poly_id").collect()}
        expected = brute_force_pairs(pages_points.toPandas(), polys.toPandas(), strict=True)
        assert got == expected
        assert len(expected) > 0  # fixture sanity: joins actually happen

    def test_covers_matches_bruteforce(self, spark, pages_points, polys):
        joined = pip_join(pages_points, polys, "lon", "lat", "geom",
                          predicate="st_covers")
        got = {(r.url, r.poly_id) for r in joined.select("url", "poly_id").collect()}
        expected = brute_force_pairs(pages_points.toPandas(), polys.toPandas(), strict=False)
        assert got == expected

    def test_salted_join_same_rowset(self, spark, pages_points, polys):
        joined = pip_join(pages_points, polys, "lon", "lat", "geom",
                          predicate="st_contains", salt=4)
        got = {(r.url, r.poly_id) for r in joined.select("url", "poly_id").collect()}
        expected = brute_force_pairs(pages_points.toPandas(), polys.toPandas(), strict=True)
        assert got == expected

    def test_broadcast_join_same_rowset(self, spark, pages_points, polys):
        joined = pip_join(pages_points, polys, "lon", "lat", "geom",
                          predicate="st_contains", broadcast_polys=True)
        got = {(r.url, r.poly_id) for r in joined.select("url", "poly_id").collect()}
        expected = brute_force_pairs(pages_points.toPandas(), polys.toPandas(), strict=True)
        assert got == expected


class TestGeneralSpatialJoin:
    def test_poly_poly_intersects(self, spark, polys):
        a = polys.select(F.col("poly_id").alias("lid"), F.col("geom").alias("lgeom"),
                         "xmin", "ymin", "xmax", "ymax").limit(60).cache()
        b = polys.select(F.col("poly_id").alias("rid"), F.col("geom").alias("rgeom")) \
                 .filter(F.col("rid") >= 60).cache()
        joined = spatial_join(a, b, "st_intersects", left_geom="lgeom", right_geom="rgeom")
        got = {(r.lid, r.rid) for r in joined.select("lid", "rid").collect()}

        ap = a.toPandas()
        bp = polys.filter(F.col("poly_id") >= 60).toPandas()
        expected = set()
        for _, l in ap.iterrows():
            for _, r in bp.iterrows():
                if (l.xmin <= r.xmax and r.xmin <= l.xmax
                        and l.ymin <= r.ymax and r.ymin <= l.ymax):
                    expected.add((l.lid, r.poly_id))
        assert got == expected
        assert len(expected) > 0


class TestDeterminism:
    def test_pages_deterministic(self, spark):
        a = generate_pages(spark, 50).orderBy("url").toPandas()
        b = generate_pages(spark, 50).orderBy("url").toPandas()
        assert (a["text"] == b["text"]).all()
        assert (a["url"] == b["url"]).all()

    def test_geoparse_pure_function_of_text(self, spark):
        pts = geoparse(generate_pages(spark, 100)).toPandas()
        # re-parse offline: regex of text must equal the emitted lon/lat
        import re

        for _, r in pts.iterrows():
            m = re.search(r"located at (-?\d+\.\d+), (-?\d+\.\d+)", r.text)
            assert float(m.group(2)) == r.lon
            assert float(m.group(1)) == r.lat

    def test_hot_cell_skew_present(self, spark):
        ids = np.arange(5000)
        lon, lat = page_coords(ids)
        # 80% of points should fall near the 20 urban centers
        from geomesa_spark.sources.pages import URBAN_CENTERS

        d = np.min(np.hypot(lon[:, None] - URBAN_CENTERS[None, :, 0],
                            lat[:, None] - URBAN_CENTERS[None, :, 1]), axis=1)
        frac_hot = float(np.mean(d < 0.2))
        assert 0.75 < frac_hot < 0.85


def test_geoparse_place_mentions(spark):
    from geomesa_spark.sources.pages import GAZETTEER, generate_pages, geoparse
    from pyspark.sql import functions as F

    pages = generate_pages(spark, 5000, partitions=4, place_mentions=True)
    pts = geoparse(pages)
    # nothing dropped: every page resolves via coords or gazetteer
    assert pts.count() == 5000
    placed = pts.filter(F.col("text").contains("located in"))
    n_placed = placed.count()
    assert 300 < n_placed < 700  # ~10%
    # resolved coordinates are exactly gazetteer city centers
    centers = {(lon, lat) for lon, lat in GAZETTEER.values()}
    for r in placed.limit(20).collect():
        assert (r["lon"], r["lat"]) in centers
    # determinism: same text -> same geometry (per-row invariant)
    again = geoparse(generate_pages(spark, 5000, partitions=2, place_mentions=True))
    a = sorted((r["url"], r["lon"], r["lat"]) for r in pts.collect())
    b = sorted((r["url"], r["lon"], r["lat"]) for r in again.collect())
    assert a == b


class TestInteriorFastAccept:
    """The generalized full-cell (interior fast-accept) machinery: exact
    row sets on non-rect polygons, and conservativeness of the
    segment-vs-cell test (a wrong full=True would be a silent wrong
    accept — the one failure mode that matters)."""

    def _circle_polys(self, spark):
        from geomesa_spark.sources.pages import generate_circle_polys
        return generate_circle_polys(spark, 40).cache()

    def _brute(self, points_pd, polys_pd, strict):
        from geomesa_spark.geom.wkb import wkb_read
        px = points_pd["lon"].to_numpy()
        py = points_pd["lat"].to_numpy()
        urls = points_pd["url"].to_numpy()
        pairs = set()
        for _, row in polys_pd.iterrows():
            rings = wkb_read(bytes(row.geom)).rings
            loc = pip_rings(px, py, rings)
            hit = (loc == 1) if strict else (loc >= 0)
            for u in urls[hit]:
                pairs.add((u, row.poly_id))
        return pairs

    def test_circle_broadcast_matches_bruteforce(self, spark, pages_points):
        polys = self._circle_polys(spark)
        joined = pip_join(pages_points, polys, "lon", "lat", "geom",
                          predicate="st_contains", broadcast_polys=True)
        got = {(r.url, r.poly_id) for r in joined.select("url", "poly_id").collect()}
        expected = self._brute(pages_points.toPandas(), polys.toPandas(), strict=True)
        assert got == expected
        assert len(expected) > 0

    def test_circle_shuffle_matches_bruteforce(self, spark, pages_points):
        polys = self._circle_polys(spark)
        joined = pip_join(pages_points, polys, "lon", "lat", "geom",
                          predicate="st_intersects")
        got = {(r.url, r.poly_id) for r in joined.select("url", "poly_id").collect()}
        expected = self._brute(pages_points.toPandas(), polys.toPandas(), strict=False)
        assert got == expected

    def test_full_cells_strictly_inside(self, spark):
        """Every cell flagged full must be strictly inside the polygon:
        probe a dense grid of points per flagged cell with the exact
        kernel (holes included)."""
        import numpy as np

        from geomesa_spark.curves.zorder import z2_decode
        from geomesa_spark.geom.wkb import Polygon, wkb_read
        from geomesa_spark.operators.spatial_join import _flagged_cover_of_wkb
        from geomesa_spark.sources.pages import generate_circle_polys

        polys = generate_circle_polys(spark, 25).collect()
        # add a polygon with a hole: outer circle + inner square hole
        ang = np.linspace(0.0, 2 * np.pi, 33)
        outer = np.column_stack([10 + 5 * np.cos(ang), 10 + 5 * np.sin(ang)])
        hole = np.array([[9, 9], [9, 11], [11, 11], [11, 9], [9, 9]], dtype=float)
        from geomesa_spark.geom.wkb import wkb_write
        holed = wkb_write(Polygon(outer, [hole]))
        wkbs = [bytes(r["geom"]) for r in polys] + [holed]

        n_full_total = 0
        for level in (9, 11, 12):
            sx = 360.0 / (1 << level)
            sy = 180.0 / (1 << level)
            for w in wkbs:
                cells, full = _flagged_cover_of_wkb(w, level)
                rings = wkb_read(w).rings
                fc = cells[full]
                n_full_total += len(fc)
                if not len(fc):
                    continue
                ix, iy = z2_decode(np.asarray(fc, dtype=np.int64))
                x0 = -180.0 + ix * sx
                y0 = -90.0 + iy * sy
                g = np.linspace(0.0, 1.0, 5)
                for gx in g:
                    for gy in g:
                        loc = pip_rings(x0 + gx * sx, y0 + gy * sy, rings)
                        assert (loc == 1).all(), "full cell leaks outside"
        assert n_full_total > 100  # the optimization actually fires


def test_salted_broadcast_join_same_rowset(spark, pages_points, polys):
    """salt=N composes with the prepared broadcast path."""
    joined = pip_join(pages_points, polys, "lon", "lat", "geom",
                      predicate="st_contains", broadcast_polys=True, salt=4)
    got = {(r.url, r.poly_id) for r in joined.select("url", "poly_id").collect()}
    expected = brute_force_pairs(pages_points.toPandas(), polys.toPandas(), strict=True)
    assert got == expected


def test_prepared_keeps_duplicate_geometry_rows(spark):
    """Advice regression: two polygon rows with identical geometry but
    different attribute columns must each emit a match (a plain inner
    join's multiplicity), not collapse to one arbitrary row."""
    from geomesa_spark.geom.wkb import Polygon, wkb_write
    import numpy as np

    ring = np.array([[0.0, 0.0], [0.0, 10.0], [10.0, 10.0], [10.0, 0.0], [0.0, 0.0]])
    w = wkb_write(Polygon(ring))
    polys = spark.createDataFrame([("a", bytearray(w)), ("b", bytearray(w))],
                                  "tag string, geom binary")
    pts = spark.createDataFrame([(1, 5.0, 5.0), (2, 50.0, 50.0)],
                                "pid long, lon double, lat double")
    out = pip_join(pts, polys, "lon", "lat", "geom",
                   predicate="st_contains", broadcast_polys=True)
    got = {(r.pid, r.tag) for r in out.select("pid", "tag").collect()}
    assert got == {(1, "a"), (1, "b")}


def _rect_wkb(x0, y0, x1, y1):
    from geomesa_spark.geom.wkb import Polygon, wkb_write
    import numpy as np

    ring = np.array([[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]],
                    dtype=np.float64)
    return bytearray(wkb_write(Polygon(ring)))


class TestDisjointJoin:
    """st_disjoint is the complement join: pairs sharing no grid cell —
    invisible to any cell prefilter — must still appear, and
    duplicate-geometry right rows keep their attribute multiplicity."""

    def test_complement_semantics_and_multiplicity(self, spark):
        from geomesa_spark.operators.spatial_join import spatial_join

        left = spark.createDataFrame(
            [(1, _rect_wkb(0.0, 0.0, 2.0, 2.0)),       # overlaps right "a"/"b"
             (2, _rect_wkb(100.0, 40.0, 102.0, 42.0))],  # far away: disjoint
            "lid long, geom binary")
        w = _rect_wkb(1.0, 1.0, 3.0, 3.0)
        right = spark.createDataFrame(
            [("a", w), ("b", w),                         # identical geometry
             ("c", _rect_wkb(-50.0, -50.0, -49.0, -49.0))],
            "tag string, rgeom binary")
        out = spatial_join(left, right, "st_disjoint",
                           left_geom="geom", right_geom="rgeom",
                           broadcast_right=True)
        got = {(r.lid, r.tag) for r in out.select("lid", "tag").collect()}
        # left 1 intersects a/b, disjoint from c; left 2 disjoint from all
        assert got == {(1, "c"), (2, "a"), (2, "b"), (2, "c")}
        # duplicate-geometry rows a and b both present for left 2
        assert out.count() == 4

    def test_matches_brute_force(self, spark, pages_points, polys):
        from pyspark.sql import functions as F

        from geomesa_spark.operators.spatial_join import spatial_join

        left = (polys.limit(40)
                     .select(F.col("poly_id").alias("lid"), "geom"))
        right = (polys.limit(60)
                      .select(F.col("poly_id").alias("rid"),
                              F.col("geom").alias("rgeom")))
        out = spatial_join(left, right, "st_disjoint",
                           left_geom="geom", right_geom="rgeom",
                           broadcast_right=True)
        got = {(r.lid, r.rid) for r in out.select("lid", "rid").collect()}
        inter = spatial_join(left, right, "st_intersects",
                             left_geom="geom", right_geom="rgeom",
                             broadcast_right=True)
        hit = {(r.lid, r.rid) for r in inter.select("lid", "rid").collect()}
        alln = {(a.lid, b.rid) for a in left.collect() for b in right.collect()}
        assert got == alln - hit


def test_refine_handles_all_null_geometry_batch(spark):
    """A candidate batch whose left geometries are ALL null (env sidecars
    present, geometry column null) must yield zero matches, not an
    IndexError from indexing an empty factorized array."""
    from pyspark.sql import functions as F

    from geomesa_spark.operators.spatial_join import spatial_join

    left = spark.createDataFrame(
        [(1, 0.0, 0.0, 2.0, 2.0), (2, 1.0, 1.0, 3.0, 3.0)],
        "lid long, xmin double, ymin double, xmax double, ymax double"
    ).withColumn("geom", F.lit(None).cast("binary"))
    right = spark.createDataFrame([("a", _rect_wkb(0.5, 0.5, 2.5, 2.5))],
                                  "tag string, rgeom binary")
    out = spatial_join(left, right, "st_intersects",
                       left_geom="geom", right_geom="rgeom",
                       broadcast_right=True,
                       left_env=("xmin", "ymin", "xmax", "ymax"))
    assert out.count() == 0


def test_dwithin_geom_join_high_latitude_cover(spark):
    """Latitude-aware dwithin cover: at 75N a 2 km radius spans ~0.070 deg
    of longitude — 2.9x the flat meters/111320 equivalent. A pair
    straddling a cell boundary there must still be found (the old flat
    1.5x expansion under-covered above ~48 deg and silently dropped it)."""
    from geomesa_spark.geom.wkb import Point, wkb_write
    from geomesa_spark.operators.spatial_join import spatial_join

    # default level 8: cell boundary at lon 0
    left = spark.createDataFrame(
        [(1, bytearray(wkb_write(Point(-0.03, 75.0))))], "lid long, geom binary")
    right = spark.createDataFrame(
        [(2, bytearray(wkb_write(Point(0.03, 75.0))))], "rid long, rgeom binary")
    out = spatial_join(left, right, "st_dwithin", left_geom="geom",
                       right_geom="rgeom", meters=2000.0)
    assert [(r.lid, r.rid) for r in out.select("lid", "rid").collect()] == [(1, 2)]
    # and a pair genuinely farther than the radius still refines away
    far = spark.createDataFrame(
        [(3, bytearray(wkb_write(Point(0.12, 75.0))))], "rid long, rgeom binary")
    assert spatial_join(left, far, "st_dwithin", left_geom="geom",
                        right_geom="rgeom", meters=2000.0).count() == 0


def test_auto_broadcast_picks_path_by_plan_size(spark, tmp_path):
    """broadcast_right='auto' reads Catalyst's size estimate: a tiny
    parquet-backed right layer takes the pid-keyed broadcast path
    (driver-built LocalTableScan cell table, no shuffle of the right
    side); an ExistingRDD right (no stats -> Long.Max estimate, same as
    Spark's own JoinSelection) stays on the shuffle grid join. Row sets
    match either way."""
    from geomesa_spark.geom.wkb import Point, Polygon, wkb_write
    from geomesa_spark.operators.spatial_join import spatial_join
    import numpy as np

    ring = np.array([(0.0, 0.0), (3.0, 0.0), (3.0, 3.0), (0.0, 3.0),
                     (0.0, 0.0)])
    rmem = spark.createDataFrame(
        [(1, bytearray(wkb_write(Polygon([ring]))))], "rid long, rgeom binary")
    rmem.write.parquet(str(tmp_path / "right"))
    right = spark.read.parquet(str(tmp_path / "right"))
    left = spark.createDataFrame(
        [(10, bytearray(wkb_write(Point(1.0, 1.0)))),
         (11, bytearray(wkb_write(Point(9.0, 9.0)))) ],
        "lid long, geom binary")

    auto = spatial_join(left, right, "st_intersects",
                        left_geom="geom", right_geom="rgeom")
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "__rpid__" in plan  # pid-keyed broadcast path chosen
    rows_auto = sorted((r.lid, r.rid) for r in auto.select("lid", "rid").collect())

    no_stats = spatial_join(left, rmem, "st_intersects",
                            left_geom="geom", right_geom="rgeom")
    plan2 = no_stats._jdf.queryExecution().executedPlan().toString()
    assert "__rpid__" not in plan2  # unknown size -> shuffle grid join
    rows_ns = sorted((r.lid, r.rid) for r in no_stats.select("lid", "rid").collect())

    forced = spatial_join(left, right, "st_intersects", left_geom="geom",
                          right_geom="rgeom", broadcast_right=False)
    rows_forced = sorted((r.lid, r.rid)
                         for r in forced.select("lid", "rid").collect())
    assert rows_auto == rows_ns == rows_forced == [(10, 1)]


def test_dwithin_geom_join_antimeridian_pair(spark):
    """A dwithin pair straddling the +-180 line: the expanded cover must
    wrap (full-lon window for the crossing rows) and the refine must
    resolve the +-360 shift — clipping at 180 silently dropped these."""
    from geomesa_spark.geom.wkb import Point, wkb_write
    from geomesa_spark.operators.spatial_join import spatial_join

    left = spark.createDataFrame(
        [(1, bytearray(wkb_write(Point(179.99, 10.0))))], "lid long, geom binary")
    right = spark.createDataFrame(
        [(2, bytearray(wkb_write(Point(-179.99, 10.0)))),   # ~2.2 km away
         (3, bytearray(wkb_write(Point(-179.5, 10.0))))],   # ~55 km away
        "rid long, rgeom binary")
    out = spatial_join(left, right, "st_dwithin", left_geom="geom",
                       right_geom="rgeom", meters=5000.0)
    assert [(r.lid, r.rid) for r in out.select("lid", "rid").collect()] == [(1, 2)]


def test_dwithin_points_near_pole_cover(spark):
    """sphere_expand_degrees at lat 89.95: 1.2 deg of longitude is only
    ~116 m — the old 89.9-deg clamp under-covered the window and dropped
    the true match."""
    from geomesa_spark.operators.spatial_join import dwithin_join_points

    left = spark.createDataFrame([(1, 10.0, 89.95)], "lid long, lx double, ly double")
    right = spark.createDataFrame([(2, 11.2, 89.95), (3, 60.0, 89.95)],
                                  "rid long, rx double, ry double")
    out = dwithin_join_points(left, right, 150.0, "lx", "ly", "rx", "ry",
                              metric="sphere", level=12)
    assert [(r.lid, r.rid) for r in out.select("lid", "rid").collect()] == [(1, 2)]


def _rect_wkb(x0, y0, x1, y1):
    import numpy as np

    from geomesa_spark.geom.wkb import Polygon, wkb_write
    ring = np.array([[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]],
                    dtype=np.float64)
    return bytearray(wkb_write(Polygon(ring)))


def _ngon_wkb(cx, cy, r, n=12, star=False):
    import numpy as np

    from geomesa_spark.geom.wkb import Polygon, wkb_write
    ang = np.linspace(0.0, 2.0 * np.pi, n + 1)
    rad = np.full(n + 1, r)
    if star:                       # alternate radii -> concave
        rad[1::2] = r * 0.35
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    ring[-1] = ring[0]
    return bytearray(wkb_write(Polygon(ring)))


def _mk_left(spark, rows):
    return spark.createDataFrame(
        [(i, _rect_wkb(*r), *r) for i, r in enumerate(rows)],
        "lid long, geom binary, xmin double, ymin double, "
        "xmax double, ymax double")


def test_bnlj_path_nulls_duplicates_and_empty_right(spark):
    """The tiny-right BroadcastNestedLoopJoin path: null right geometries
    match nothing, duplicate right geometries keep their row multiplicity
    (one output row per RIGHT ROW), an empty right side yields zero rows."""
    from pyspark.sql import functions as F

    from geomesa_spark.operators.spatial_join import spatial_join

    left = _mk_left(spark, [(0.0, 0.0, 1.0, 1.0), (5.0, 5.0, 6.0, 6.0)])
    poly = bytes(_ngon_wkb(0.5, 0.5, 1.0))
    right = spark.createDataFrame(
        [(10, bytearray(poly)), (11, bytearray(poly)), (12, None)],
        "rid long, rgeom binary")
    out = spatial_join(left, right, "st_intersects", left_geom="geom",
                       right_geom="rgeom", broadcast_right=True,
                       left_env=("xmin", "ymin", "xmax", "ymax"),
                       left_rects=True)
    got = sorted((r.lid, r.rid) for r in out.select("lid", "rid").collect())
    assert got == [(0, 10), (0, 11)]   # duplicate geometry -> both rows
    empty = right.filter(F.col("rid") < 0)
    assert spatial_join(left, empty, "st_intersects", left_geom="geom",
                        right_geom="rgeom", broadcast_right=True,
                        left_env=("xmin", "ymin", "xmax", "ymax"),
                        left_rects=True).count() == 0


def test_concave_right_falls_back_and_matches_shuffle(spark):
    """A concave (star) right polygon disables the JVM SAT anti-join; the
    kernel fallback must equal the shuffle-grid path, including the
    concavity (a rect in the star's notch does NOT intersect)."""
    from geomesa_spark.operators.spatial_join import spatial_join

    # star notch at angle ~15 deg (between the r and 0.35r vertices): a
    # small rect sitting inside the envelope but outside the star
    left = _mk_left(spark, [
        (0.72, 0.30, 0.80, 0.38),    # in the notch: envelope hit, no overlap
        (-0.05, -0.05, 0.05, 0.05),  # center: inside
        (2.5, 2.5, 2.6, 2.6),        # far away
    ])
    right = spark.createDataFrame(
        [(1, _ngon_wkb(0.0, 0.0, 1.0, n=12, star=True))], "rid long, rgeom binary")
    kw = dict(left_geom="geom", right_geom="rgeom",
              left_env=("xmin", "ymin", "xmax", "ymax"))
    bnlj = spatial_join(left, right, "st_intersects", broadcast_right=True,
                        left_rects=True, **kw)
    grid = spatial_join(left, right, "st_intersects", broadcast_right=False,
                        level=8, **kw)
    a = sorted((r.lid, r.rid) for r in bnlj.select("lid", "rid").collect())
    b = sorted((r.lid, r.rid) for r in grid.select("lid", "rid").collect())
    assert a == b
    assert (1, 1) in a and (0, 1) not in a and (2, 1) not in a


def test_degenerate_rect_left_through_sat_antijoin(spark):
    """Zero-width left 'rects' (vertical segments) through the convex SAT
    anti-join: a closed convex set either touches the polygon or not —
    parity with the kernel path."""
    from geomesa_spark.operators.spatial_join import spatial_join

    left = _mk_left(spark, [
        (0.0, -2.0, 0.0, 2.0),   # vertical segment through the polygon
        (3.0, -1.0, 3.0, 1.0),   # vertical segment outside
    ])
    right = spark.createDataFrame(
        [(1, _ngon_wkb(0.0, 0.0, 1.0, n=12))], "rid long, rgeom binary")
    kw = dict(left_geom="geom", right_geom="rgeom",
              left_env=("xmin", "ymin", "xmax", "ymax"))
    sat = spatial_join(left, right, "st_intersects", broadcast_right=True,
                       left_rects=True, **kw)
    ker = spatial_join(left, right, "st_intersects", broadcast_right=False,
                       level=8, **kw)
    a = sorted((r.lid, r.rid) for r in sat.select("lid", "rid").collect())
    b = sorted((r.lid, r.rid) for r in ker.select("lid", "rid").collect())
    assert a == b == [(0, 1)]


def test_convex_intersects_plan_has_no_python(spark):
    """Declared-rect x all-convex st_intersects must plan as BNLJ + SAT
    anti-join with ZERO Python operators (the whole query stays in
    JVM codegen); a concave right polygon must bring the Python refine
    back."""
    from geomesa_spark.operators.spatial_join import spatial_join

    left = _mk_left(spark, [(0.0, 0.0, 1.0, 1.0)])
    convex = spark.createDataFrame(
        [(1, _ngon_wkb(0.0, 0.0, 1.0, n=12))], "rid long, rgeom binary")
    kw = dict(left_geom="geom", right_geom="rgeom", broadcast_right=True,
              left_env=("xmin", "ymin", "xmax", "ymax"), left_rects=True)
    plan = spatial_join(left, convex, "st_intersects",
                        **kw)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan
    assert "EvalPython" not in plan    # Arrow/BatchEvalPython both absent

    concave = spark.createDataFrame(
        [(1, _ngon_wkb(0.0, 0.0, 1.0, n=12, star=True))], "rid long, rgeom binary")
    plan2 = spatial_join(left, concave, "st_intersects",
                         **kw)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" in plan2       # kernel refine fallback engaged


def test_cover_of_non_finite_rows_is_empty():
    """A null coordinate or radius reaches the numpy covers as NaN: the
    row covers no cell (no int64 cast of NaN, no arbitrary cells) while
    finite rows of the same batch keep their cells."""
    import warnings

    from geomesa_spark.operators.spatial_join import (
        cells_of_bbox_arrays, cells_of_disk_arrays)

    nan, inf = float("nan"), float("inf")
    xs = np.array([10.0, nan, 20.0, 179.9, 30.0])
    ys = np.array([45.0, 5.0, nan, 0.0, 0.0])
    r = np.array([0.5, 0.5, 0.5, 0.5, nan])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        disk = cells_of_disk_arrays(xs, ys, r, r, 8)
        # an infinite bound is no cover either
        ymax = ys + np.array([0.5, 0.5, 0.5, 0.5, inf])
        box = cells_of_bbox_arrays(xs - 0.5, ys - 0.5, xs + 0.5, ymax, 8)
    assert [len(c) > 0 for c in disk] == [True, False, False, True, False]
    assert [len(c) > 0 for c in box] == [True, False, False, True, False]
    # the finite rows keep the cover they had on their own
    assert disk[0] == cells_of_disk_arrays(xs[:1], ys[:1], r[:1], r[:1], 8)[0]
    assert disk[3] == cells_of_disk_arrays(xs[3:4], ys[3:4], r[3:4], r[3:4], 8)[0]


# ---------------------------------------------------------------------------
# Refine parity matrix: every candidate path of spatial_join and pip_join
# against a driver-side brute force running the exact geom.kernels
# predicate per pair.

_SJ_PREDS = {"st_intersects": "intersects", "st_contains": "contains",
             "st_covers": "covers", "st_within": "within",
             "st_coveredBy": "covered_by"}
_LEFT_RECTS = [
    (0.0, 0.0, 2.0, 2.0),      # overlaps the rect R1
    (0.8, 0.8, 3.2, 3.2),      # contains R1
    (3.0, 1.0, 4.0, 2.0),      # equals R3, shares an edge with R1
    (1.0, 1.0, 3.0, 3.0),      # equals R1 (and its duplicate)
    (1.2, 1.2, 1.8, 1.8),      # within R1
    (4.8, 4.8, 5.2, 5.2),      # within the concave star
    (5.4, 5.4, 8.6, 8.6),      # contains the octagon, crosses the star
    (1.0, 7.5, 1.0, 9.0),      # zero width: crosses the line string
    (1.6, 4.9, 2.4, 5.6),      # inside the hole
    (0.0, 3.8, 4.0, 7.0),      # contains the holed polygon
    (7.9, 0.9, 9.6, 4.1),      # contains the multipolygon
    (5.8, 7.9, 8.2, 10.0),     # around the zero-area polygon
    (0.0, 8.0, 4.5, 10.0),     # contains the line string
    (20.0, 20.0, 21.0, 21.0),  # far from everything
]


def _wkb(geom):
    from geomesa_spark.geom.wkb import wkb_write
    return bytearray(wkb_write(geom))


def _ring(x0, y0, x1, y1):
    return np.array([[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]],
                    dtype=np.float64)


def _right_geoms():
    """(rid, WKB or None): axis rects, convex n-gons, a concave star, a
    holed polygon, a multipolygon, zero-area polygons, a line string, a
    null and a duplicate geometry."""
    from geomesa_spark.geom.wkb import LineString, MultiPolygon, Polygon
    r1 = _rect_wkb(1.0, 1.0, 3.0, 3.0)
    return [
        (1, r1), (2, r1),                                    # duplicates
        (3, _rect_wkb(3.0, 1.0, 4.0, 2.0)),
        (4, _rect_wkb(4.0, 0.5, 6.0, 2.5)),
        (5, _ngon_wkb(7.0, 7.0, 1.5, n=8)),
        (6, _ngon_wkb(2.0, 7.0, 1.0, n=5)),
        (7, _ngon_wkb(5.0, 5.0, 2.0, n=12, star=True)),
        (8, _wkb(Polygon(_ring(0.5, 4.0, 3.5, 6.5), [_ring(1.5, 4.8, 2.5, 5.7)]))),
        (9, _wkb(MultiPolygon([Polygon(_ring(8.0, 1.0, 9.0, 2.0)),
                               Polygon(_ring(8.5, 3.0, 9.5, 4.0))]))),
        (10, _wkb(Polygon(np.array([[6.0, 8.5], [7.0, 9.0], [8.0, 9.5],
                                    [6.0, 8.5]])))),       # collinear ring
        (11, _rect_wkb(9.5, 6.0, 9.5, 8.0)),                 # zero-width rect
        (12, _wkb(LineString(np.array([[0.5, 8.0], [4.0, 9.5]])))),
        (13, None),
    ]


def _sj_frames(spark, pad: int):
    """The left rects (WKB + envelope columns) and the right layer,
    padded with ``pad`` far-away rects that no left row reaches."""
    left = _mk_left(spark, _LEFT_RECTS)
    rows = _right_geoms() + [
        (100 + i, _rect_wkb(100.0 + (i % 40), -60.0 + (i // 40) * 0.5,
                            100.2 + (i % 40), -59.8 + (i // 40) * 0.5))
        for i in range(pad)]
    right = spark.createDataFrame(rows, "rid long, rgeom binary")
    return left, right, rows


def _sj_brute(rows, predicate: str) -> set:
    from geomesa_spark.geom import kernels as K
    from geomesa_spark.geom.wkb import wkb_read

    fn = getattr(K, _SJ_PREDS[predicate])
    lgeoms = [wkb_read(bytes(_rect_wkb(*r))) for r in _LEFT_RECTS]
    out = set()
    for rid, w in rows:
        if w is None:
            continue
        g = wkb_read(bytes(w))
        e = g.envelope()
        for lid, (lg, r) in enumerate(zip(lgeoms, _LEFT_RECTS)):
            # every predicate here needs the envelopes to meet
            if r[0] <= e[2] and e[0] <= r[2] and r[1] <= e[3] and e[1] <= r[3]:
                if fn(lg, g):
                    out.add((lid, rid))
    return out


_SJ_PATHS = {"bnlj": (True, 0), "pid_grid": (True, 520), "shuffle_grid": (False, 0)}


@pytest.mark.parametrize("path", list(_SJ_PATHS))
def test_spatial_join_refine_parity_matrix(spark, path):
    """Declared-rect and generic left layers through the tiny-right
    nested-loop join, the broadcast pid grid and the shuffle grid: every
    predicate's row set equals the per-pair kernel brute force."""
    broadcast, pad = _SJ_PATHS[path]
    left, right, rows = _sj_frames(spark, pad)
    kw = dict(left_geom="geom", right_geom="rgeom", broadcast_right=broadcast,
              left_env=("xmin", "ymin", "xmax", "ymax"))
    cases = [(p, False) for p in _SJ_PREDS]
    cases += [(p, True) for p in ("st_intersects", "st_contains", "st_covers")]
    # one collect for the whole matrix: the cases as a tagged union
    got = _collect_cases({
        (predicate, rects): spatial_join(left, right, predicate, left_rects=rects,
                                         **kw).select("lid", "rid")
        for predicate, rects in cases})
    for predicate, rects in cases:
        want = _sj_brute(rows, predicate)
        assert got[(predicate, rects)] == sorted(want), (path, predicate, rects)
        assert want, predicate  # every predicate has matches here


def _collect_cases(frames: dict) -> dict:
    """Collect each case's rows (sorted tuples) through one union."""
    from functools import reduce
    keys = list(frames)
    tagged = [df.select(F.lit(i).alias("__case__"), *df.columns)
              for i, df in enumerate(frames.values())]
    got = {k: [] for k in keys}
    for r in reduce(lambda a, b: a.unionByName(b), tagged).collect():
        got[keys[r[0]]].append(tuple(r[1:]))
    return {k: sorted(v) for k, v in got.items()}


def _pip_polys():
    """(poly_id, WKB): edge-sharing rects, a concave star, a holed
    polygon, a multipolygon, a line string and a zero-width rect."""
    from geomesa_spark.geom.wkb import LineString, MultiPolygon, Polygon
    return [
        (1, _rect_wkb(0.0, 0.0, 4.0, 4.0)),
        (2, _rect_wkb(4.0, 0.0, 6.0, 2.0)),
        (3, _ngon_wkb(10.0, 10.0, 3.0, n=10, star=True)),
        (4, _wkb(Polygon(_ring(0.0, 10.0, 6.0, 16.0), [_ring(2.0, 12.0, 4.0, 14.0)]))),
        (5, _wkb(MultiPolygon([Polygon(_ring(20.0, 0.0, 22.0, 2.0)),
                               Polygon(_ring(23.0, 0.0, 25.0, 2.0))]))),
        (6, _wkb(LineString(np.array([[30.0, 0.0], [34.0, 4.0]])))),
        (7, _rect_wkb(40.0, 0.0, 40.0, 4.0)),
    ]


_PIP_EDGE_POINTS = [
    (0.0, 0.0), (4.0, 4.0), (4.0, 1.0), (2.0, 0.0), (5.0, 2.0), (6.0, 1.0),
    (2.0, 13.0), (3.0, 12.0), (4.0, 14.0), (0.0, 12.0), (13.0, 10.0),
    (21.0, 2.0), (22.0, 1.0), (24.0, 0.0), (31.0, 1.0), (32.0, 2.0),
    (30.0, 0.0), (34.0, 4.0), (40.0, 1.0), (40.0, 0.0), (40.0, 4.0),
    (40.0001, 1.0),
]


def _pip_points():
    rng = np.random.default_rng(17)
    xs = np.r_[rng.uniform(-1.0, 41.0, 500), [p[0] for p in _PIP_EDGE_POINTS]]
    ys = np.r_[rng.uniform(-1.0, 17.0, 500), [p[1] for p in _PIP_EDGE_POINTS]]
    return xs, ys


def _pip_brute(predicate: str) -> set:
    from geomesa_spark.geom import kernels as K
    from geomesa_spark.geom.wkb import Point, wkb_read

    fn = K.contains if predicate in ("st_contains", "st_within") else K.intersects
    xs, ys = _pip_points()
    out = set()
    for poly_id, w in _pip_polys():
        g = wkb_read(bytes(w))
        e = g.envelope()
        for i, (x, y) in enumerate(zip(xs, ys)):
            if e[0] <= x <= e[2] and e[1] <= y <= e[3] and fn(g, Point(x, y)):
                out.add((i, poly_id))
    return out


_PIP_PATHS = {"prepared": dict(broadcast_polys=True),
              "shuffle": dict(),
              "salted": dict(salt=3)}


@pytest.mark.parametrize("path", list(_PIP_PATHS))
def test_pip_join_refine_parity_matrix(spark, path):
    """The prepared, shuffle and salted pip_join paths: every predicate's
    row set, boundary points included, equals the per-pair kernel brute
    force (strict for contains/within, closed for covers/intersects)."""
    xs, ys = _pip_points()
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "pt long, lon double, lat double")
    polys = spark.createDataFrame(_pip_polys(), "poly_id long, geom binary")
    preds = ("st_contains", "st_within", "st_covers", "st_intersects")
    got = _collect_cases({
        predicate: pip_join(pts, polys, "lon", "lat", "geom", predicate=predicate,
                            **_PIP_PATHS[path]).select("pt", "poly_id")
        for predicate in preds})
    for predicate in preds:
        want = _pip_brute(predicate)
        assert got[predicate] == sorted(want), (path, predicate)
        assert {p for _, p in want} == set(range(1, 8)) - (
            {7} if predicate in ("st_contains", "st_within") else set())


@pytest.mark.parametrize("path", ["prepared", "shuffle"])
def test_pip_join_rejects_unsupported_predicates(spark, path):
    """The point-in-polygon refine answers only contains/within/covers/
    intersects; any other predicate raises instead of returning the
    covered points."""
    pts = spark.createDataFrame([(1, 5.0, 5.0), (2, 50.0, 50.0)],
                                "pt long, lon double, lat double")
    polys = spark.createDataFrame(_pip_polys()[:1], "poly_id long, geom binary")
    for predicate in ("st_disjoint", "st_crosses"):
        with pytest.raises(ValueError, match="pip_join predicate"):
            pip_join(pts, polys, "lon", "lat", "geom", predicate=predicate,
                     **_PIP_PATHS[path])


# ---------------------------------------------------------------------------
# Arrow traffic of the refine: the exact UDF name and input columns.

def _python_udfs(df) -> list[str]:
    """The UDF calls of every Python evaluation node in ``df``'s executed
    plan, attribute ids stripped: ``refine(lon, lat, __pid__)``."""
    import re

    from conftest import _plan_nodes
    out = []
    for node in _plan_nodes(df):
        if node.getClass().getSimpleName() in ("ArrowEvalPythonExec",
                                                "BatchEvalPythonExec"):
            udfs = node.udfs()
            out += [re.sub(r"#\d+L?", "", udfs.apply(i).toString())
                    for i in range(udfs.size())]
    return out


def test_refine_arrow_inputs_are_pinned(spark):
    """The refine ships exactly these columns across the Arrow boundary,
    under the UDF name ``refine``: a refactor that adds a column or
    renames the UDF fails here."""
    # prepared pip_join: only the boundary leg runs Python
    xs, ys = _pip_points()
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "pt long, lon double, lat double")
    polys = spark.createDataFrame(_pip_polys()[:4], "poly_id long, geom binary")
    out = pip_join(pts, polys, "lon", "lat", "geom", broadcast_polys=True)
    out.collect()
    assert _python_udfs(out) == ["refine(lon, lat, __pid__)"]

    # broadcast pid grid: left geometry or envelope, pid, full-cell flag
    left, right, rows = _sj_frames(spark, 520)
    env = ("xmin", "ymin", "xmax", "ymax")
    kw = dict(left_geom="geom", right_geom="rgeom", broadcast_right=True,
              left_env=env)
    out = spatial_join(left, right, "st_intersects", **kw)
    out.collect()
    assert _python_udfs(out) == ["refine(geom, __rpid__, __rfull__)"]
    out = spatial_join(left, right, "st_intersects", left_rects=True, **kw)
    out.collect()
    assert _python_udfs(out) == [
        "refine(xmin, ymin, xmax, ymax, __rpid__, __rfull__)"]

    # the perfbench ``joins`` shape: shuffle grid, declared-rect left
    from geomesa_spark.geom.wkb import wkb_read
    renv = spark.createDataFrame(
        [(rid, w, *(map(float, wkb_read(bytes(w)).envelope()) if w else (None,) * 4))
         for rid, w in rows],
        "rid long, rgeom binary, rx0 double, ry0 double, rx1 double, ry1 double")
    out = spatial_join(left, renv, "st_intersects", left_geom="geom",
                       right_geom="rgeom", left_env=env,
                       right_env=("rx0", "ry0", "rx1", "ry1"), left_rects=True,
                       broadcast_right=False)
    out.collect()
    assert _python_udfs(out) == [
        "refine(xmin, ymin, xmax, ymax, rgeom)"]
