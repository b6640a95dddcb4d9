"""Bit-for-bit SFC kernel tests.

Cases mirror the reference unit suites:
- geomesa-z3/src/test/scala/.../curve/Z2Test.scala (split oracle :68-80, round
  trips, bounds)
- curve/Z3Test.scala, curve/NormalizedDimensionTest.scala,
  curve/BinnedTimeTest.scala, curve/XZ2SFCTest.scala:24-60
"""

import numpy as np
import pytest

from geomesa_spark.curves import (
    XZ2SFC,
    Z2SFC,
    Z3SFC,
    geohash_decode_bbox,
    geohash_decode_point,
    geohash_encode,
    normalized_lat,
    normalized_lon,
    time_to_binned,
    binned_to_time,
    z2_combine,
    z2_decode,
    z2_encode,
    z2_ranges,
    z2_split,
    z3_decode,
    z3_encode,
    z3_ranges,
)

rng = np.random.RandomState(574)


class TestZ2:
    def test_split_is_zero_interleaving(self):
        # string-interleaving oracle, same cases as Z2Test.scala:68-80
        cases = [0xFFFFFF, 0, 1, 0xC0F02, 0x802] + list(rng.randint(0, 2**31 - 1, 10))
        for val in cases:
            expected = int("".join("0" + c for c in bin(int(val))[2:]), 2) if val else 0
            assert int(z2_split(np.int64(val))) == expected, hex(val)

    def test_split_combine_roundtrip(self):
        vals = rng.randint(0, 2**31 - 1, 1000).astype(np.int64)
        assert np.array_equal(z2_combine(z2_split(vals)), vals)

    def test_encode_decode_roundtrip(self):
        x = rng.randint(0, 2**31 - 1, 1000).astype(np.int64)
        y = rng.randint(0, 2**31 - 1, 1000).astype(np.int64)
        dx, dy = z2_decode(z2_encode(x, y))
        assert np.array_equal(dx, x)
        assert np.array_equal(dy, y)

    def test_min_max_values(self):
        z = z2_encode(0, 0)
        assert int(z) == 0
        mx = 2**31 - 1
        dx, dy = z2_decode(z2_encode(mx, mx))
        assert (int(dx), int(dy)) == (mx, mx)

    def test_bit_layout_y1x1y0x0(self):
        # x=1,y=0 -> z=1 ; x=0,y=1 -> z=2
        assert int(z2_encode(1, 0)) == 1
        assert int(z2_encode(0, 1)) == 2
        assert int(z2_encode(1, 1)) == 3


class TestZ3:
    def test_encode_decode_roundtrip(self):
        x = rng.randint(0, 2**21 - 1, 1000).astype(np.int64)
        y = rng.randint(0, 2**21 - 1, 1000).astype(np.int64)
        t = rng.randint(0, 2**21 - 1, 1000).astype(np.int64)
        dx, dy, dt = z3_decode(z3_encode(x, y, t))
        assert np.array_equal(dx, x)
        assert np.array_equal(dy, y)
        assert np.array_equal(dt, t)

    def test_bit_layout_z1y1x1z0y0x0(self):
        assert int(z3_encode(1, 0, 0)) == 1
        assert int(z3_encode(0, 1, 0)) == 2
        assert int(z3_encode(0, 0, 1)) == 4


class TestNormalizedDimension:
    def test_normalize_floor_clamp(self):
        lon = normalized_lon(31)
        assert int(lon.normalize(-180.0)) == 0
        assert int(lon.normalize(180.0)) == lon.max_index
        assert int(lon.normalize(np.nextafter(180.0, 181))) == lon.max_index
        # floor rule
        assert int(lon.normalize(0.0)) == 2**30

    def test_denormalize_cell_center(self):
        lat = normalized_lat(31)
        w = 180.0 / 2**31
        assert float(lat.denormalize(0)) == pytest.approx(-90.0 + 0.5 * w)
        # clamped at maxIndex
        assert float(lat.denormalize(lat.max_index)) == pytest.approx(90.0 - 0.5 * w)
        assert float(lat.denormalize(lat.max_index + 5)) == float(lat.denormalize(lat.max_index))

    def test_roundtrip_within_cell(self):
        lon = normalized_lon(31)
        xs = rng.uniform(-180, 180, 1000)
        back = lon.denormalize(lon.normalize(xs))
        assert np.max(np.abs(back - xs)) <= 360.0 / 2**31


class TestBinnedTime:
    def test_week_bins(self):
        # 1970-01-08T00:00:00Z = 7 days -> week bin 1, offset 0
        ms = 7 * 86400 * 1000
        b, o = time_to_binned(np.array([ms]), "week")
        assert (int(b[0]), int(o[0])) == (1, 0)
        # mid-week offset in seconds
        ms2 = ms + 3600 * 1000
        b2, o2 = time_to_binned(np.array([ms2]), "week")
        assert (int(b2[0]), int(o2[0])) == (1, 3600)

    def test_day_bins_millis(self):
        ms = 86400 * 1000 + 123
        b, o = time_to_binned(np.array([ms]), "day")
        assert (int(b[0]), int(o[0])) == (1, 123)

    def test_month_year_calendar(self):
        # 1970-03-01 is month bin 2 (Jan=0, Feb=1)
        ms = (31 + 28) * 86400 * 1000
        b, o = time_to_binned(np.array([ms]), "month")
        assert (int(b[0]), int(o[0])) == (2, 0)
        # 1972-01-01 is year bin 2, offset 0 minutes
        ms = (365 * 2) * 86400 * 1000
        b, o = time_to_binned(np.array([ms]), "year")
        assert (int(b[0]), int(o[0])) == (2, 0)

    def test_roundtrip(self):
        for period in ("day", "week", "month", "year"):
            ms = np.abs(rng.randint(0, 2**41, 200))
            b, o = time_to_binned(ms, period)
            back = binned_to_time(b, o, period)
            if period == "year":
                assert np.all(np.abs(back - ms) < 60_000)
            elif period == "day":
                assert np.array_equal(back, ms)
            else:
                assert np.all(np.abs(back - ms) < 1000)


class TestZ2SFC:
    sfc = Z2SFC()

    def test_bounds_raise(self):
        for x, y in [(-180.1, 0), (0, -90.1), (180.1, 0), (0, 90.1), (-181, -91), (181, 91)]:
            with pytest.raises(ValueError):
                self.sfc.index(x, y)

    def test_lenient_clamps(self):
        assert int(self.sfc.index(-181, 0, lenient=True)) == int(self.sfc.index(-180, 0))
        assert int(self.sfc.index(0, 91, lenient=True)) == int(self.sfc.index(0, 90))

    def test_invert_is_cell_center(self):
        z = self.sfc.index(10.0, 10.0)
        x, y = self.sfc.invert(z)
        assert abs(float(x) - 10.0) <= 360.0 / 2**31
        assert abs(float(y) - 10.0) <= 180.0 / 2**31

    def test_hex_encode_prefix_order(self):
        # hex = z << 2, 16 digits (Z2SFC.scala:59-81)
        z = int(self.sfc.index(1.0, 2.0))
        h = self.sfc.hex_encode(z)
        assert len(h) == 16
        assert int(h, 16) == z << 2
        assert self.sfc.hex_decode(h) == z


class TestZ3SFC:
    sfc = Z3SFC("week")

    def test_index_millis(self):
        ms = np.array([7 * 86400 * 1000 + 3600 * 1000])
        bins, z = self.sfc.index_millis(np.array([10.0]), np.array([20.0]), ms)
        assert int(bins[0]) == 1
        x, y, t = self.sfc.invert(z)
        assert abs(float(x[0]) - 10.0) < 360.0 / 2**21 + 1e-9
        assert abs(float(y[0]) - 20.0) < 180.0 / 2**21 + 1e-9
        assert abs(int(t[0]) - 3600) <= int(604800 / 2**21) + 1


class TestZRanges:
    def test_point_query_single_range(self):
        sfc = Z2SFC()
        z = int(sfc.index(5.0, 5.0))
        ranges = z2_ranges([(z, z)])
        assert any(r.lower <= z <= r.upper for r in ranges)

    def test_window_covers_interior_points(self):
        sfc = Z2SFC()
        lo = int(sfc.index(4.0, 4.0))
        hi = int(sfc.index(6.0, 6.0))
        ranges = z2_ranges([(lo, hi)])
        # every point strictly inside the window must fall in some range
        for px, py in [(4.5, 4.5), (5.0, 5.0), (5.9, 5.9), (4.0, 6.0), (6.0, 4.0)]:
            z = int(sfc.index(px, py))
            assert any(r.lower <= z <= r.upper for r in ranges), (px, py)

    def test_disjoint_point_excluded(self):
        sfc = Z2SFC()
        lo = int(sfc.index(4.0, 4.0))
        hi = int(sfc.index(6.0, 6.0))
        # default planner budget (2000 ranges, recursion 7) gives a loose cover,
        # but a far-away point lands in a different top-level quadrant
        ranges = z2_ranges([(lo, hi)])
        z = int(sfc.index(60.0, -60.0))
        assert not any(r.lower <= z <= r.upper for r in ranges)

    def test_range_budget_respected(self):
        sfc = Z2SFC()
        lo = int(sfc.index(-170.0, -80.0))
        hi = int(sfc.index(170.0, 80.0))
        ranges = z2_ranges([(lo, hi)], max_ranges=2000)
        assert len(ranges) <= 2001

    def test_z3_ranges_cover(self):
        sfc = Z3SFC("week")
        zlo = int(sfc.index(4.0, 4.0, 1000))
        zhi = int(sfc.index(6.0, 6.0, 2000))
        ranges = z3_ranges([(zlo, zhi)])
        zq = int(sfc.index(5.0, 5.0, 1500))
        assert any(r.lower <= zq <= r.upper for r in ranges)


class TestXZ2:
    sfc = XZ2SFC(12)

    # fixtures from XZ2SFCTest.scala:24-60
    CONTAINING = [(9.0, 9.0, 13.0, 13.0), (-180.0, -90.0, 180.0, 90.0),
                  (0.0, 0.0, 180.0, 90.0), (0.0, 0.0, 20.0, 20.0)]
    OVERLAPPING = [(11.0, 11.0, 13.0, 13.0), (9.0, 9.0, 11.0, 11.0),
                   (10.5, 10.5, 11.5, 11.5), (11.0, 11.0, 11.0, 11.0)]
    DISJOINT_POLY = [(-180.0, -90.0, 8.0, 8.0), (0.0, 0.0, 8.0, 8.0),
                     (9.0, 9.0, 9.5, 9.5), (20.0, 20.0, 180.0, 90.0)]
    DISJOINT_POINT = DISJOINT_POLY + [(12.5, 12.5, 13.5, 13.5)]

    def test_index_polygons_and_query(self):
        poly = int(self.sfc.index(10, 10, 12, 12)[0])
        for bbox in self.CONTAINING + self.OVERLAPPING:
            ranges = self.sfc.ranges([bbox])
            assert any(lo <= poly <= hi for lo, hi, _ in ranges), bbox
        for bbox in self.DISJOINT_POLY:
            ranges = self.sfc.ranges([bbox])
            assert not any(lo <= poly <= hi for lo, hi, _ in ranges), bbox

    def test_index_points_and_query(self):
        pt = int(self.sfc.index(11, 11, 11, 11)[0])
        for bbox in self.CONTAINING + self.OVERLAPPING:
            ranges = self.sfc.ranges([bbox])
            assert any(lo <= pt <= hi for lo, hi, _ in ranges), bbox
        for bbox in self.DISJOINT_POINT:
            ranges = self.sfc.ranges([bbox])
            assert not any(lo <= pt <= hi for lo, hi, _ in ranges), bbox

    def test_point_sequence_is_full_length(self):
        # a zero-extent box recurses to max resolution g
        z = int(self.sfc.index(0.0, 0.0, 0.0, 0.0)[0])
        assert 0 <= z <= self.sfc.max_z

    def test_hex_roundtrip(self):
        z = int(self.sfc.index(10, 10, 12, 12)[0])
        h = self.sfc.hex_encode(z)
        assert len(h) == self.sfc.hex_digits
        assert self.sfc.hex_decode(h) == z

    def test_vectorized_matches_scalar(self):
        boxes = rng.uniform(0, 1, (50, 2))
        xmin = boxes[:, 0] * 170 - 90
        ymin = boxes[:, 1] * 80 - 45
        xmax = xmin + rng.uniform(0, 2, 50)
        ymax = ymin + rng.uniform(0, 2, 50)
        vec = self.sfc.index(xmin, ymin, xmax, ymax)
        for i in range(50):
            assert int(vec[i]) == int(self.sfc.index(xmin[i], ymin[i], xmax[i], ymax[i])[0])


class TestGeoHash:
    def test_known_value(self):
        # classic: (-5.6, 42.6) -> "ezs42" at 25 bits
        gh = geohash_encode([-5.6], [42.6], 25)
        assert gh[0] == "ezs42"

    def test_roundtrip_center(self):
        lon, lat = 2.3522, 48.8566
        gh = geohash_encode([lon], [lat], 40)[0]
        clon, clat = geohash_decode_point(gh)
        assert abs(clon - lon) < 0.01
        assert abs(clat - lat) < 0.01

    def test_bbox_contains_point(self):
        gh = geohash_encode([100.0], [-50.0], 35)[0]
        xmin, ymin, xmax, ymax = geohash_decode_bbox(gh)
        assert xmin <= 100.0 <= xmax
        assert ymin <= -50.0 <= ymax


class TestZExpr:
    """curves/zexpr.py, the JVM key expressions, bit for bit against the
    numpy encoders (Z2SFC/Z3SFC with lenient=True)."""

    @staticmethod
    def _inputs():
        r = np.random.RandomState(2024)
        n = 3000
        x = list(r.uniform(-200.0, 200.0, n))      # some outside the world
        y = list(r.uniform(-100.0, 100.0, n))
        secs = list(r.randint(-3 * 604800, 2000 * 604800, n))
        below = [np.nextafter(180.0, 0.0), np.nextafter(90.0, 0.0)]
        x += [180.0, -180.0, below[0], -0.0, 0.0, 90.0, -90.0, 1e-300]
        y += [90.0, -90.0, below[1], -0.0, 0.0, 180.0, -180.0, -1e-300]
        secs += [0, 604799, 604800, -1, -604800, -604801, 604799 * 3, 1]
        # the reference vectors: cell centres of the split-oracle and
        # bit-layout indices, which must key to exactly those indices
        ij = [(0xFFFFFF, 0), (0, 1), (1, 0), (1, 1), (0xC0F02, 0x802),
              (2**31 - 1, 2**31 - 1), (0x802, 0xC0F02)]
        cx, cy = Z2SFC().invert(z2_encode([i for i, _ in ij], [j for _, j in ij]))
        x += list(cx)
        y += list(cy)
        secs += [0] * len(ij)
        return np.array(x), np.array(y), np.array(secs, np.int64), ij

    @staticmethod
    def _frame(spark, x, y, secs):
        rows = [(float(a), float(b), int(c)) for a, b, c in zip(x, y, secs)]
        rows += [(None, 1.0, 1), (1.0, None, 1), (1.0, 1.0, None)]
        return spark.createDataFrame(rows, "x double, y double, secs long")

    def test_z2_z3_cells_match_numpy(self, spark):
        from geomesa_spark.curves import zexpr

        x, y, secs, ij = self._inputs()
        df = self._frame(spark, x, y, secs).cache()
        z2 = Z2SFC().index(x, y, lenient=True)
        bins, z3 = Z3SFC("week").index_millis(x, y, secs * 1000, lenient=True)
        n = len(x)
        try:
            for level in range(1, 32):
                got = [r[0] for r in
                       zexpr.with_z2(df, "c", "x", "y", level).select("c").collect()]
                assert [c is None for c in got[n:]] == [True, True, False], level
                assert got[:n] == (z2 >> (2 * (31 - level))).tolist(), level
            for level in range(1, 22):
                got = (zexpr.with_z3(df, "c", "x", "y", "secs", level)
                       .select("c", zexpr.week_bin("secs")).collect())
                assert all(c is None for c, _ in got[n:]), level
                assert [c for c, _ in got[:n]] == (z3 >> (3 * (21 - level))).tolist(), level
                assert [b for _, b in got[:n]] == bins.tolist()
        finally:
            df.unpersist()
        # the reference vectors keyed to their own indices, bit layout
        # y1x1y0x0 included
        ref = z2[n - len(ij):]
        assert ref.tolist() == [int(z2_encode(i, j)) for i, j in ij]
        assert ref[1:4].tolist() == [2, 1, 3]

    def test_store_hex_keys_match_numpy(self, spark):
        from geomesa_spark.plans.store import DIGITS, KEYSPACES, keyed

        x, y, secs, _ = self._inputs()
        df = self._frame(spark, x, y, secs)
        n = len(x)
        got = (keyed(keyed(df, KEYSPACES["z2"], x="x", y="y"), KEYSPACES["z3"],
                     x="x", y="y", secs="secs")
               .select("z2_hex", "z3_hex", "z2_p", "z3_p").toPandas())
        z2 = Z2SFC().index(x, y, lenient=True)
        _, z3 = Z3SFC("week").index_millis(x, y, secs * 1000, lenient=True)
        assert got["z2_hex"][:n].tolist() == list(Z2SFC().hex_encode(z2))
        assert got["z3_hex"][:n].tolist() == [
            format((int(z) << 1) & (2**64 - 1), "016x") for z in z3]
        assert got["z2_p"][:n].tolist() == [h[:DIGITS] for h in got["z2_hex"][:n]]
        # a null coordinate or dtg: a null key and prefix (the default
        # hive partition)
        assert got["z2_hex"][n:].isna().tolist() == [True, True, False]
        assert got["z3_hex"][n:].isna().all() and got["z3_p"][n:].isna().all()
