"""Trajectory similarity: Hausdorff distance join between tracks.

The reference's spatial join family (geomesa-spark/geomesa-spark-sql
st_distance joins, SparkSQLSpatialRelationsTest) covers geometry pairs;
track-to-track similarity (which patrol routes cover the same corridor,
which user paths mirror each other) needs a set-to-set metric. The
symmetric Hausdorff distance is the standard one:

    H(A, B) = max( max_a min_b |a-b|, max_b min_a |a-b| )

Spark-first shape: tracks are collected once into bounded per-track
point arrays (tracks are bounded by sessionization/resampling upstream
— this is the per-track state the reference's BIN export also assumes),
pairs come from a self-join pruned by an ENVELOPE LOWER BOUND (the
rectangle gap between two track bounding boxes never exceeds the
Hausdorff distance, so `threshold` prunes pairs before any point math),
and the O(|A|*|B|) point scan runs as nested JVM higher-order folds —
whole-stage codegen, no Python, no explode of the cross product.

Exactness: max/min folds over doubles are order-independent (pure
comparisons), and each distance is one fixed mul/add/sqrt chain, so
results are bit-reproducible across engines with no ordered-fold trick.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

__all__ = ["hausdorff_join", "frechet_join", "co_travel",
           "simplify_tracks", "convoys", "bearing_rose", "speed_outliers"]


def _disk_cover_udf(eps_deg: float, level: int):
    """pandas UDF: point -> Z2 cells covering its eps-disk — the
    shared right-side cover of the co-location self-joins (co_travel,
    convoys); one definition so the cover rule can't drift."""
    from pyspark.sql.types import ArrayType, LongType

    from .spatial_join import cells_of_disk_arrays

    @pandas_udf(ArrayType(LongType()))
    def cover_pt(x: pd.Series, y: pd.Series) -> pd.Series:
        xs = x.to_numpy(np.float64)
        ys = y.to_numpy(np.float64)
        r = np.full_like(xs, float(eps_deg))
        return pd.Series(cells_of_disk_arrays(xs, ys, r, r, level),
                         dtype=object)

    return cover_pt


def _epoch_us(df: DataFrame, ts_col: str) -> F.Column:
    """Exact integer epoch microseconds for TIMESTAMP and
    TIMESTAMP_NTZ alike (the shared timestamp convention)."""
    ts_type = df.schema[ts_col].dataType.simpleString()
    epoch = F.lit("1970-01-01 00:00:00").cast(ts_type)
    return F.timestamp_diff("MICROSECOND", epoch, F.col(ts_col))


def _dp_keep_mask(xs: np.ndarray, ys: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker keep mask over one track (iterative stack walk,
    deterministic: max deviation ties break on the LOWEST index; the
    deviation is the clamped point-to-SEGMENT distance, so closed loops
    (coincident endpoints) degrade gracefully to radial distance)."""
    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 - i0 < 2:
            continue
        x1, y1, x2, y2 = xs[i0], ys[i0], xs[i1], ys[i1]
        dx, dy = x2 - x1, y2 - y1
        len2 = dx * dx + dy * dy
        px = xs[i0 + 1:i1]
        py = ys[i0 + 1:i1]
        if len2 == 0.0:
            t = np.zeros(len(px))
        else:
            t = np.clip(((px - x1) * dx + (py - y1) * dy) / len2, 0.0, 1.0)
        ex = px - (x1 + t * dx)
        ey = py - (y1 + t * dy)
        d2 = ex * ex + ey * ey
        j = int(np.argmax(d2))          # first index on ties
        if d2[j] > tol * tol:
            k = i0 + 1 + j
            keep[k] = True
            stack.append((i0, k))
            stack.append((k, i1))
    return keep


def simplify_tracks(df: DataFrame, track_col: str, x_col: str, y_col: str,
                    order_col: str, tolerance: float,
                    max_points: int = 65536) -> DataFrame:
    """Douglas-Peucker track simplification: drop every fix closer than
    ``tolerance`` (planar) to the chord of its retained neighbors — the
    standard pre-step before track storage/rendering/similarity (the
    reference renders decimated geometries the same way; this is the
    trajectory-pipeline form over fix rows).

    Returns the KEPT fixes: (track, seq (0-based original index),
    x, y) — endpoints always survive; single-fix tracks pass through.
    Deterministic: the split point is the max-deviation fix with the
    lowest index, so output is a pure function of the input.

    Scale shape: one shuffle groups each track's fixes into a bounded
    array (``max_points`` guard, the hausdorff_join convention); the
    stack-walk DP runs per track inside an Arrow-batched pUDF (numpy
    over each track — tracks are bounded, the batch is many tracks);
    output explodes back to fix rows. No driver involvement, no
    cross-track communication.
    """

    @pandas_udf("array<long>")
    def dp_mask(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(xs, ys):
            xa = np.asarray(x, dtype=np.float64)
            ya = np.asarray(y, dtype=np.float64)
            if len(xa) <= 2:
                out.append(list(range(len(xa))))
                continue
            m = _dp_keep_mask(xa, ya, float(tolerance))
            out.append([int(i) for i in np.flatnonzero(m)])
        return pd.Series(out, dtype=object)

    pts = F.array_sort(F.collect_list(
        F.struct(F.col(order_col).alias("o"),
                 F.col(x_col).cast("double").alias("x"),
                 F.col(y_col).cast("double").alias("y"))))
    tr = (df.groupBy(F.col(track_col).alias("track"))
            .agg(pts.alias("pts")))
    tr = tr.withColumn(
        "pts",
        F.when(F.size("pts") <= max_points, F.col("pts"))
         .otherwise(F.raise_error(F.lit(
             f"simplify_tracks: track exceeds max_points={max_points}"))))
    kept = tr.withColumn(
        "__keep__", dp_mask(F.col("pts.x"), F.col("pts.y")))
    return (kept.select("track", "pts",
                        F.explode("__keep__").alias("seq"))
                .select("track", "seq",
                        F.element_at(F.col("pts"),
                                     (F.col("seq") + 1).cast("int"))
                         .alias("__p__"))
                .select("track", "seq",
                        F.col("__p__.x").alias("x"),
                        F.col("__p__.y").alias("y")))


def hausdorff_join(df: DataFrame, track_col: str, x_col: str, y_col: str,
                   order_col: str, threshold: float | None = None,
                   max_points: int = 4096) -> DataFrame:
    """All-pairs symmetric Hausdorff distance between tracks.

    Returns (track_a, track_b, n_a, n_b, hausdorff) with
    track_a < track_b (each unordered pair once). ``threshold`` keeps
    only pairs with H <= threshold AND prunes the self-join with the
    envelope-gap lower bound first (the scale path — without it the
    pair count is quadratic in the track count). ``max_points`` guards
    against unbounded per-track state: a track longer than this raises
    at plan-build time via an assertive filter (resample upstream with
    `route.track_interpolate` instead of silently truncating).
    """
    pts = F.array_sort(F.collect_list(
        F.struct(F.col(order_col).alias("o"),
                 F.col(x_col).cast("double").alias("x"),
                 F.col(y_col).cast("double").alias("y"))))
    tr = (df.groupBy(F.col(track_col).alias("tid"))
            .agg(pts.alias("pts"),
                 F.min(x_col).cast("double").alias("x0"),
                 F.min(y_col).cast("double").alias("y0"),
                 F.max(x_col).cast("double").alias("x1"),
                 F.max(y_col).cast("double").alias("y1"),
                 F.count("*").alias("n")))
    tr = tr.withColumn(
        "pts",
        F.when(F.size("pts") <= max_points, F.col("pts"))
         .otherwise(F.raise_error(F.lit(
             f"hausdorff_join: track exceeds max_points={max_points}; "
             "resample with track_interpolate first"))))
    a = tr.select(F.col("tid").alias("ta"), F.col("pts").alias("pa"),
                  F.col("n").alias("n_a"),
                  F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
                  F.col("x1").alias("ax1"), F.col("y1").alias("ay1"))
    b = tr.select(F.col("tid").alias("tb"), F.col("pts").alias("pb"),
                  F.col("n").alias("n_b"),
                  F.col("x0").alias("bx0"), F.col("y0").alias("by0"),
                  F.col("x1").alias("bx1"), F.col("y1").alias("by1"))
    cond = F.col("ta") < F.col("tb")
    if threshold is not None:
        # envelope gap: a lower bound on min point distance, hence on H
        gx = F.greatest(F.lit(0.0), F.col("bx0") - F.col("ax1"),
                        F.col("ax0") - F.col("bx1"))
        gy = F.greatest(F.lit(0.0), F.col("by0") - F.col("ay1"),
                        F.col("ay0") - F.col("by1"))
        cond = cond & (F.sqrt(gx * gx + gy * gy) <= F.lit(float(threshold)))
    pairs = a.join(b, on=cond)

    def _directed(src, dst):
        return F.aggregate(
            src, F.lit(0.0),
            lambda acc, p: F.greatest(acc, F.aggregate(
                dst, F.lit(float("inf")),
                lambda m, q: F.least(m, F.sqrt(
                    (p["x"] - q["x"]) * (p["x"] - q["x"])
                    + (p["y"] - q["y"]) * (p["y"] - q["y"]))))))

    hd = F.greatest(_directed(F.col("pa"), F.col("pb")),
                    _directed(F.col("pb"), F.col("pa")))
    out = pairs.select(F.col("ta").alias("track_a"),
                       F.col("tb").alias("track_b"),
                       "n_a", "n_b", hd.alias("hausdorff"))
    if threshold is not None:
        out = out.filter(F.col("hausdorff") <= F.lit(float(threshold)))
    return out


def frechet_join(df: DataFrame, track_col: str, x_col: str, y_col: str,
                 order_col: str, threshold: float | None = None,
                 max_points: int = 512) -> DataFrame:
    """All-pairs DISCRETE Fréchet distance between tracks (Eiter &
    Mannila 1994) — the order-aware track metric: unlike Hausdorff it
    respects traversal direction, so an out-and-back path is far from
    its one-way twin.

        ca(i,j) = max(d(p_i, q_j), min(ca(i-1,j), ca(i-1,j-1), ca(i,j-1)))

    Same scale shape as :func:`hausdorff_join`: bounded per-track point
    arrays, envelope-gap prune (valid because Fréchet >= Hausdorff >=
    envelope gap), and the O(n*m) DP as nested JVM folds — the outer
    fold walks P carrying the previous DP ROW as the accumulator, the
    inner fold rebuilds the row left-to-right. No Python, no explode;
    each pair is one codegen'd expression. Every cell is a fixed
    max/min/sqrt chain (order forced by the recurrence), so results
    are bit-reproducible across engines. Returns
    (track_a, track_b, n_a, n_b, frechet) with track_a < track_b.

    ``max_points`` defaults lower than Hausdorff's: the row rebuild
    copies O(m) per cell (O(n*m^2) work per pair) — resample with
    `route.track_interpolate` first; long raw GPS tracks belong there
    anyway.
    """
    pts = F.array_sort(F.collect_list(
        F.struct(F.col(order_col).alias("o"),
                 F.col(x_col).cast("double").alias("x"),
                 F.col(y_col).cast("double").alias("y"))))
    tr = (df.groupBy(F.col(track_col).alias("tid"))
            .agg(pts.alias("pts"),
                 F.min(x_col).cast("double").alias("x0"),
                 F.min(y_col).cast("double").alias("y0"),
                 F.max(x_col).cast("double").alias("x1"),
                 F.max(y_col).cast("double").alias("y1"),
                 F.count("*").alias("n")))
    tr = tr.withColumn(
        "pts",
        F.when(F.size("pts") <= max_points, F.col("pts"))
         .otherwise(F.raise_error(F.lit(
             f"frechet_join: track exceeds max_points={max_points}; "
             "resample with track_interpolate first"))))
    a = tr.select(F.col("tid").alias("ta"), F.col("pts").alias("pa"),
                  F.col("n").alias("n_a"),
                  F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
                  F.col("x1").alias("ax1"), F.col("y1").alias("ay1"))
    b = tr.select(F.col("tid").alias("tb"), F.col("pts").alias("pb"),
                  F.col("n").alias("n_b"),
                  F.col("x0").alias("bx0"), F.col("y0").alias("by0"),
                  F.col("x1").alias("bx1"), F.col("y1").alias("by1"))
    cond = F.col("ta") < F.col("tb")
    if threshold is not None:
        gx = F.greatest(F.lit(0.0), F.col("bx0") - F.col("ax1"),
                        F.col("ax0") - F.col("bx1"))
        gy = F.greatest(F.lit(0.0), F.col("by0") - F.col("ay1"),
                        F.col("ay0") - F.col("by1"))
        cond = cond & (F.sqrt(gx * gx + gy * gy) <= F.lit(float(threshold)))
    pairs = a.join(b, on=cond)

    def _d(p, q):
        return F.sqrt((p["x"] - q["x"]) * (p["x"] - q["x"])
                      + (p["y"] - q["y"]) * (p["y"] - q["y"]))

    pa, pb = F.col("pa"), F.col("pb")
    p0 = F.element_at(pa, 1)
    # DP row 0: running prefix-max of d(p_0, q_j)
    row0 = F.aggregate(
        pb, F.array().cast("array<double>"),
        lambda acc, q: F.concat(acc, F.array(
            F.when(F.size(acc) == 0, _d(p0, q))
             .otherwise(F.greatest(F.element_at(acc, -1), _d(p0, q))))))
    # rows 1..n-1: fold P carrying the previous row; inner fold over
    # 1-based q indexes so each cell sees prev[j], prev[j-1], cur[j-1]
    dp_last = F.aggregate(
        F.slice(pa, 2, F.greatest(F.size(pa) - 1, F.lit(0))),
        row0,
        lambda prev, p: F.aggregate(
            F.sequence(F.lit(1), F.size(pb)),
            F.array().cast("array<double>"),
            lambda acc, j: F.concat(acc, F.array(
                F.greatest(
                    _d(p, F.element_at(pb, j)),
                    F.when(F.size(acc) == 0, F.element_at(prev, 1))
                     .otherwise(F.least(
                         F.element_at(prev, j),
                         F.element_at(prev, j - 1),
                         F.element_at(acc, -1))))))))
    out = pairs.select(F.col("ta").alias("track_a"),
                       F.col("tb").alias("track_b"),
                       "n_a", "n_b",
                       F.element_at(dp_last, -1).alias("frechet"))
    if threshold is not None:
        out = out.filter(F.col("frechet") <= F.lit(float(threshold)))
    return out


def co_travel(fixes: DataFrame, track_col: str, ts_col: str,
              x_col: str, y_col: str,
              eps_deg: float, eps_s: int, min_hits: int = 1,
              level: int = 6) -> DataFrame:
    """Rendezvous / co-travel detection: track pairs with >= min_hits
    fix pairs within ``eps_deg`` degrees AND ``eps_s`` seconds.

    The spatiotemporal proximity self-join (the reference's tube-select
    and proximity process both answer "who was near this track" —
    geomesa-process ProximitySearchProcess.scala:25,
    TubeSelectProcess.scala:43 — this is the all-pairs form): the join
    key is (Z2 cell, time bin), i.e. a Z3-shaped composite. The left
    fix keeps its single (cell, bin); the right fix explodes to the
    cells covering its eps-disk x its 3 adjacent time bins, so every
    qualifying pair meets on exactly one key — no pair-dedup shuffle.
    Refine is strict dist < eps (squared compare, no sqrt) and
    inclusive |dt| <= eps_s, both exact. One combining agg counts hits
    per (track_a < track_b).

    Scale shape: candidates are bounded by true spatiotemporal
    co-location (never all-pairs); hot (cell, bin) keys — crowds — are
    real data density, the same skew `spatial_join.recommend_salt`
    addresses. Returns (track_a, track_b, n_hits, t_first, t_last)
    with t_first/t_last the hit window (least/greatest of fix times).
    """
    from .spatial_join import with_point_cell

    eps_us = int(eps_s) * 1_000_000
    cover_pt = _disk_cover_udf(eps_deg, level)
    tus = _epoch_us(fixes, ts_col)
    base = fixes.select(F.col(track_col).alias("tk"),
                        F.col(x_col).cast("double").alias("x"),
                        F.col(y_col).cast("double").alias("y"),
                        F.col(ts_col).alias("ts"),
                        tus.alias("tu"))
    tbin = F.floor(F.col("tu") / F.lit(eps_us))
    a = (with_point_cell(base, "x", "y", level)
             .withColumn("__tb__", tbin)
             .select(F.col("tk").alias("ta"), F.col("x").alias("xa"),
                     F.col("y").alias("ya"), F.col("ts").alias("tsa"),
                     F.col("tu").alias("tua"), "__cell__", "__tb__"))
    b = (base.withColumn("__cell__", F.explode(cover_pt(F.col("x"), F.col("y"))))
             .withColumn("__tb__", F.explode(F.array(tbin - 1, tbin, tbin + 1)))
             .select(F.col("tk").alias("tb"), F.col("x").alias("xb"),
                     F.col("y").alias("yb"), F.col("ts").alias("tsb"),
                     F.col("tu").alias("tub"), "__cell__", "__tb__"))
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    hits = (a.join(b, on=["__cell__", "__tb__"])
             .filter(F.col("ta") < F.col("tb"))
             .filter(dx * dx + dy * dy < F.lit(float(eps_deg) * float(eps_deg)))
             .filter(F.abs(F.col("tua") - F.col("tub")) <= F.lit(eps_us)))
    return (hits.groupBy(F.col("ta").alias("track_a"),
                         F.col("tb").alias("track_b"))
                .agg(F.count("*").alias("n_hits"),
                     F.min(F.least("tsa", "tsb")).alias("t_first"),
                     F.max(F.greatest("tsa", "tsb")).alias("t_last"))
                .filter(F.col("n_hits") >= min_hits))


def convoys(fixes: DataFrame, track_col: str, ts_col: str,
            x_col: str, y_col: str,
            eps_deg: float, bin_s: int, min_len: int,
            level: int = 6) -> DataFrame:
    """Convoy / flock detection (Jeung et al. 2008, pairwise form):
    track pairs co-located (< ``eps_deg``) in at least ``min_len``
    CONSECUTIVE ``bin_s``-second time bins — sustained joint movement,
    where :func:`co_travel` counts mere rendezvous hits.

    Pipeline: the co_travel (Z2 cell, bin) self-join marks each
    (pair, bin) with any qualifying fix pair (one distinct over the
    three key columns), then one gaps-and-islands window per pair
    turns bin runs into convoy intervals. Returns
    (track_a, track_b, start_bin, end_bin, run_len) per maximal run
    with run_len >= min_len; bins are epoch-aligned
    floor(epoch_us / bin_us).

    Scale shape: candidates bounded by true co-location (never
    all-pairs); the island window shuffles only the distinct
    (pair, bin) rows — at most pairs x bins, tiny next to the fix
    stream. Co-location here is same-bin (discretized time), the
    convoy convention; co_travel's sliding |dt| refine answers the
    continuous-time question.
    """
    from pyspark.sql import Window

    from .spatial_join import with_point_cell

    bin_us = int(bin_s) * 1_000_000
    if min_len < 1:
        raise ValueError("convoys needs min_len >= 1")
    cover_pt = _disk_cover_udf(eps_deg, level)
    tus = _epoch_us(fixes, ts_col)
    base = fixes.select(F.col(track_col).alias("tk"),
                        F.col(x_col).cast("double").alias("x"),
                        F.col(y_col).cast("double").alias("y"),
                        F.floor(tus / F.lit(bin_us)).alias("__tb__"))
    a = (with_point_cell(base, "x", "y", level)
             .select(F.col("tk").alias("ta"), F.col("x").alias("xa"),
                     F.col("y").alias("ya"), "__cell__", "__tb__"))
    b = (base.withColumn("__cell__",
                         F.explode(cover_pt(F.col("x"), F.col("y"))))
             .select(F.col("tk").alias("tb"), F.col("x").alias("xb"),
                     F.col("y").alias("yb"), "__cell__", "__tb__"))
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    pair_bins = (a.join(b, on=["__cell__", "__tb__"])
                  .filter(F.col("ta") < F.col("tb"))
                  .filter(dx * dx + dy * dy
                          < F.lit(float(eps_deg) * float(eps_deg)))
                  .select("ta", "tb", "__tb__").distinct())
    w = Window.partitionBy("ta", "tb").orderBy(F.col("__tb__").asc())
    runs = (pair_bins
            .withColumn("__isl__", F.col("__tb__") - F.row_number().over(w))
            .groupBy("ta", "tb", "__isl__")
            .agg(F.min("__tb__").alias("start_bin"),
                 F.max("__tb__").alias("end_bin"),
                 F.count("*").alias("run_len")))
    return (runs.filter(F.col("run_len") >= int(min_len))
                .select(F.col("ta").alias("track_a"),
                        F.col("tb").alias("track_b"),
                        "start_bin", "end_bin", "run_len"))


def bearing_rose(fixes: DataFrame, track_col: str, ts_col: str,
                 order_col: str, lon_col: str, lat_col: str,
                 cell_deg: float = 45.0, sectors: int = 8) -> DataFrame:
    """Wind-rose of travel directions: every consecutive leg of every
    track contributes its great-circle initial bearing (Snyder/aviation
    forward-azimuth formula), binned into ``sectors`` compass sectors
    and rolled up per coarse lon/lat grid cell — "which way does
    traffic flow through this cell", the movement-analytics complement
    of the density surfaces in operators/tiling.

        theta = atan2(sin dlam * cos lat2,
                      cos lat1 * sin lat2 - sin lat1 * cos lat2 * cos dlam)

    Scale shape: one lead() window per track (partitioned by the track
    key — never global), map-only trig in whole-stage codegen, one
    combining count per (cell, sector). Zero-displacement legs (a
    parked tracker pinging in place) are dropped — they have no
    direction. Returns (cx, cy, sector, n_legs).

    Exactness: the bearing double chain is engine-exact (the
    dwithin_sphere trig convention); the float32 cast before sector
    binning absorbs any last-ulp spread, and the normalization is an
    explicit conditional add (``deg < 0 ? deg + 360 : deg``) that any
    SQL engine replays bit-for-bit. The sector index is clamped to
    ``sectors - 1`` (a float32 round-up can land exactly on 360.0f).
    Cell indices are exact linear arithmetic (the tile_density
    convention).
    """
    if sectors < 1:
        raise ValueError(f"bearing_rose needs sectors >= 1, got {sectors}")
    if cell_deg <= 0:
        raise ValueError(f"cell_deg must be positive, got {cell_deg}")
    from pyspark.sql import Window

    w = (Window.partitionBy(track_col)
               .orderBy(F.col(ts_col).asc(), F.col(order_col).asc()))
    nlon = F.lead(lon_col).over(w)
    nlat = F.lead(lat_col).over(w)
    la1 = F.radians(F.col(lat_col))
    la2 = F.radians(nlat)
    dl = F.radians(nlon) - F.radians(F.col(lon_col))
    theta = F.atan2(F.sin(dl) * F.cos(la2),
                    F.cos(la1) * F.sin(la2)
                    - F.sin(la1) * F.cos(la2) * F.cos(dl))
    # degrees spelled as one inline double constant (180/pi) so the
    # oracle multiplies by the identical literal
    deg = theta * F.lit(57.29577951308232)
    bear32 = F.when(deg < 0, deg + F.lit(360.0)).otherwise(deg).cast("float")
    nx = int(round(360.0 / cell_deg))
    ny = int(round(180.0 / cell_deg))
    legs = (fixes.select(F.col(lon_col).alias("__lon__"),
                         F.col(lat_col).alias("__lat__"),
                         nlon.alias("__nlon__"), nlat.alias("__nlat__"),
                         bear32.alias("__bear32__"))
                 .filter(F.col("__nlon__").isNotNull())
                 # zero-displacement legs (a parked tracker pinging in
                 # place) have no direction — atan2(0, 0) would count
                 # them all as due north and fabricate flow
                 .filter((F.col("__nlon__") != F.col("__lon__"))
                         | (F.col("__nlat__") != F.col("__lat__"))))
    sector = F.least(F.floor(F.col("__bear32__").cast("double")
                             / F.lit(360.0 / float(sectors))),
                     F.lit(sectors - 1)).cast("int")
    cx = F.least(F.floor((F.col("__lon__") + 180.0) / F.lit(float(cell_deg))),
                 F.lit(nx - 1)).cast("int")
    cy = F.least(F.floor((F.col("__lat__") + 90.0) / F.lit(float(cell_deg))),
                 F.lit(ny - 1)).cast("int")
    return (legs.select(cx.alias("cx"), cy.alias("cy"),
                        sector.alias("sector"))
                .groupBy("cx", "cy", "sector")
                .agg(F.count("*").alias("n_legs")))


def speed_outliers(fixes: DataFrame, track_col: str, ts_col: str,
                   order_col: str, lon_col: str, lat_col: str,
                   vmax_mps: float = 70.0) -> DataFrame:
    """GPS glitch / teleport detection: consecutive legs whose implied
    great-circle speed exceeds ``vmax_mps`` — the standard track-QA
    pre-filter before any trajectory analytics (a multipath fix 500 km
    off-track otherwise poisons stay points, legs, bearings alike).

    The flag test is the division-free cross-multiplication
    ``dist_m * 1e6 > vmax * dt_us`` so zero-duration legs (two fixes
    with one timestamp — a true teleport) are flagged without a
    divide-by-zero; ``speed32`` is NULL for those. Distance is the
    dwithin_sphere haversine double chain (engine-exact); dt is exact
    integer microseconds.

    Scale shape: one lead() window per track + a map-only filter —
    nothing global. Returns
    (track, order, next_order, dist32, dt_us, speed32).
    """
    if vmax_mps <= 0:
        raise ValueError(f"vmax_mps must be positive, got {vmax_mps}")
    from pyspark.sql import Window

    from ..geom.measures import haversine_col

    w = (Window.partitionBy(track_col)
               .orderBy(F.col(ts_col).asc(), F.col(order_col).asc()))
    nlon = F.lead(lon_col).over(w)
    nlat = F.lead(lat_col).over(w)
    nts = F.lead(ts_col).over(w)
    nord = F.lead(order_col).over(w)
    dist = haversine_col(F.col(lon_col), F.col(lat_col), nlon, nlat)
    dt = F.timestamp_diff("MICROSECOND", F.col(ts_col), nts)
    legs = (fixes.select(F.col(track_col).alias("track"),
                         F.col(order_col).alias("o1"),
                         nord.alias("o2"),
                         dist.alias("__d__"), dt.alias("dt_us"))
                 .filter(F.col("o2").isNotNull()))
    flagged = legs.filter(F.col("__d__") * F.lit(1_000_000.0)
                          > F.lit(float(vmax_mps))
                          * F.col("dt_us").cast("double"))
    speed = F.when(F.col("dt_us") > 0,
                   (F.col("__d__")
                    / (F.col("dt_us").cast("double") / F.lit(1_000_000.0)))
                   .cast("float"))
    return flagged.select("track", "o1", "o2",
                          F.col("__d__").cast("float").alias("dist32"),
                          "dt_us", speed.alias("speed32"))
