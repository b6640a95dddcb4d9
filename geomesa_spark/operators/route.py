"""Route search: features along a route, heading-matched.

The reference RouteSearchProcess (geomesa-process/.../RouteSearchProcess
.scala:36) returns point features within a buffer of a route line whose
heading attribute is within a tolerance of the local route azimuth
(either direction). Re-expressed:

- the route (small) splits into segments; each segment explodes to the
  Z2 cells covering its buffered bbox, carrying the segment azimuth,
- data points key by cell (JVM expression), broadcast equi-join,
- refine: exact point-to-segment distance (vectorized) + circular
  heading difference <= tolerance (mod 180: a track along the route in
  either direction matches, the reference's bidirectional flag).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from .spatial_join import DEFAULT_LEVEL, cells_of_disk_arrays, with_point_cell

__all__ = ["route_search", "track_interpolate", "stay_points",
           "geofence_sequence", "od_matrix", "zone_paths"]


def route_search(
    route: DataFrame,
    data: DataFrame,
    buffer_deg: float,
    heading_tol: float = 45.0,
    rx: str = "lon", ry: str = "lat", order_col: str = "seq",
    dx: str = "lon", dy: str = "lat", heading_col: str = "heading",
    data_id: str = "event_id",
    level: int = DEFAULT_LEVEL,
    bidirectional: bool = True,
) -> DataFrame:
    """Data points within ``buffer_deg`` of the route whose heading is
    within ``heading_tol`` degrees of the local segment azimuth.

    ``route`` is an ordered point table (order_col ascending defines the
    line). Returns distinct matching data rows.
    """
    from pyspark.sql import Window

    # One route is small by contract (its segments are broadcast below);
    # partitionBy a constant makes the bounded single-partition lead()
    # explicit rather than an accidental global window.
    win = Window.partitionBy(F.lit(0)).orderBy(F.col(order_col))
    segs = (route.select(
                F.col(rx).alias("__x0__"), F.col(ry).alias("__y0__"),
                F.lead(rx).over(win).alias("__x1__"),
                F.lead(ry).over(win).alias("__y1__"))
            .filter(F.col("__x1__").isNotNull()))
    # segment azimuth in degrees from north, [0, 360)
    az = (F.degrees(F.atan2(F.col("__x1__") - F.col("__x0__"),
                            F.col("__y1__") - F.col("__y0__"))) + 360.0) % 360.0
    segs = segs.withColumn("__az__", az)

    @F.pandas_udf(ArrayType(LongType()))
    def seg_cells(x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series) -> pd.Series:
        cx = (x0.to_numpy(np.float64) + x1.to_numpy(np.float64)) / 2
        cy = (y0.to_numpy(np.float64) + y1.to_numpy(np.float64)) / 2
        half_x = np.abs(x1.to_numpy(np.float64) - x0.to_numpy(np.float64)) / 2 + buffer_deg
        half_y = np.abs(y1.to_numpy(np.float64) - y0.to_numpy(np.float64)) / 2 + buffer_deg
        return pd.Series(cells_of_disk_arrays(cx, cy, half_x, half_y, level),
                         dtype=object)

    segs_k = segs.withColumn("__cell__", F.explode(
        seg_cells("__x0__", "__y0__", "__x1__", "__y1__")))

    d = with_point_cell(data, dx, dy, level)
    cand = d.join(F.broadcast(segs_k), on="__cell__", how="inner")

    # exact point-to-segment distance (cartesian degrees), vectorized expr:
    # project the point on the segment, clamp t to [0,1]
    px, py = F.col(dx), F.col(dy)
    sx, sy = F.col("__x0__"), F.col("__y0__")
    ex, ey = F.col("__x1__"), F.col("__y1__")
    vx, vy = ex - sx, ey - sy
    seg_len2 = vx * vx + vy * vy
    t = F.when(seg_len2 > 0, ((px - sx) * vx + (py - sy) * vy) / seg_len2) \
         .otherwise(F.lit(0.0))
    tc = F.greatest(F.least(t, F.lit(1.0)), F.lit(0.0))
    cx_, cy_ = sx + tc * vx, sy + tc * vy
    dist = F.sqrt((px - cx_) * (px - cx_) + (py - cy_) * (py - cy_))

    diff = F.abs(F.col(heading_col) - F.col("__az__")) % 360.0
    diff = F.least(diff, 360.0 - diff)
    if bidirectional:
        diff = F.least(diff, F.abs(diff - 180.0))
    hits = cand.filter((dist <= buffer_deg) & (diff <= heading_tol))
    return (hits.dropDuplicates([data_id])
                .drop("__x0__", "__y0__", "__x1__", "__y1__", "__az__", "__cell__"))


def track_interpolate(df: DataFrame, track_col: str, ts_col: str,
                      x_col: str, y_col: str, step_s: int,
                      order_col: str | None = None,
                      max_ticks: int | None = 1_000_000) -> DataFrame:
    """Resample tracks to a fixed time grid: for each consecutive fix
    pair within a track (ordered by ``ts_col``, then ``order_col`` as a
    deterministic tiebreak) emit linearly interpolated positions at every
    epoch-aligned multiple of ``step_s`` in the HALF-OPEN interval
    (t0, t1] — a tick landing exactly on a fix shared by two segments is
    emitted once. Returns (track, sample_ts, x, y).

    The densification stage of the reference's track pipeline (the BIN
    scan / st_aggregateDistanceSphere family operates on fixes;
    map-matching and regular-cadence exports need fixes on a grid).

    Time math is exact integer microseconds (``unix_micros``); only the
    interpolation fraction is floating point, computed with one fixed
    expression shape so any engine reproduces it bit-for-bit.

    Scale shape: ONE shuffle (the per-track lead window — at 100 TB,
    partitioned by track id so state is one fix row); tick generation is
    a JVM ``sequence`` explode (output rows ~ duration/step), no Python
    anywhere, and the explode pipelines into downstream cell-keying
    without another exchange.
    """
    step_us = int(step_s) * 1_000_000
    if step_us <= 0:
        raise ValueError(f"step_s must be positive, got {step_s}")
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()]
    if order_col:
        order.append(F.col(order_col).asc())
    w = Window.partitionBy(track_col).orderBy(*order)
    # epoch micros for TIMESTAMP and TIMESTAMP_NTZ alike (unix_micros
    # rejects NTZ): exact integer diff from the matching-type epoch
    ts_type = df.schema[ts_col].dataType.simpleString()
    epoch = F.lit("1970-01-01 00:00:00").cast(ts_type)
    t0 = F.timestamp_diff("MICROSECOND", epoch, F.col(ts_col))
    keep = [track_col, ts_col, x_col, y_col] + ([order_col] if order_col else [])
    seg = (df.select(*[F.col(c) for c in keep])
             .withColumn("__t0__", t0)
             .withColumn("__t1__", F.lead("__t0__").over(w))
             .withColumn("__x1__", F.lead(x_col).over(w))
             .withColumn("__y1__", F.lead(y_col).over(w))
             .filter(F.col("__t1__").isNotNull() & (F.col("__t1__") > F.col("__t0__"))))
    k0 = F.floor(F.col("__t0__") / F.lit(step_us)) + F.lit(1)
    k1 = F.floor(F.col("__t1__") / F.lit(step_us))
    emit = k1 >= k0
    if max_ticks is not None:
        # dirty-GPS guard: a multi-year gap between consecutive fixes at a
        # small step would explode one row into ~1e8+ sequence elements and
        # abort the job at Spark's array cap. A gap needing more than
        # max_ticks samples is treated as a track break (interpolating
        # across it is meaningless) and emits nothing; pass None to
        # disable when gaps are known-bounded.
        emit = emit & (k1 - k0 < F.lit(int(max_ticks)))
    ks = F.when(emit, F.sequence(k0, k1)).otherwise(
        F.array().cast("array<long>"))
    samp = seg.select(
        F.col(track_col), "__t0__", "__t1__", x_col, y_col, "__x1__", "__y1__",
        F.explode(ks).alias("__k__"))
    t = F.col("__k__") * F.lit(step_us)
    f = (t - F.col("__t0__")).cast("double") / \
        (F.col("__t1__") - F.col("__t0__")).cast("double")
    return samp.select(
        F.col(track_col),
        F.timestamp_add("MICROSECOND", t, epoch).alias("sample_ts"),
        (F.col(x_col) + f * (F.col("__x1__") - F.col(x_col))).alias("x"),
        (F.col(y_col) + f * (F.col("__y1__") - F.col(y_col))).alias("y"))


def stay_points(df: DataFrame, track_col: str, ts_col: str,
                x_col: str, y_col: str, radius_deg: float,
                min_duration_s: float, order_col: str | None = None) -> DataFrame:
    """Stay-point detection: maximal runs of consecutive fixes where each
    fix is within ``radius_deg`` (planar degrees, the dwithin_deg
    convention) of its PREDECESSOR, kept when the run spans at least
    ``min_duration_s`` and two fixes. Returns::

        (track, stay_idx, t_start, t_end, duration_us, cx, cy, n_fixes)

    This is the chain-rule variant of Li et al. 2008 ("Mining user
    similarity based on location history" stay points): the anchor-based
    original grows a region from the first fix — an inherently sequential
    scan — while the consecutive-distance chain is a pure windowed
    computation (lag + running sum = gaps-and-islands, the same shape as
    ``temporal.sessionize``), so it distributes and mirrors exactly in
    SQL. Centroids are float32 (sum order across engines differs at the
    ulp; the cast absorbs it — the ``unigram_logprob`` convention);
    duration is exact integer microseconds.

    Scale shape: ONE shuffle (the per-track window) feeding one combining
    aggregation on (track, stay_idx); no Python anywhere.
    """
    from pyspark.sql import Window

    radius = float(radius_deg)
    min_us = int(float(min_duration_s) * 1_000_000)
    order = [F.col(ts_col).asc()]
    if order_col:
        order.append(F.col(order_col).asc())
    w = Window.partitionBy(track_col).orderBy(*order)
    dx = F.col(x_col) - F.lag(x_col).over(w)
    dy = F.col(y_col) - F.lag(y_col).over(w)
    dist = F.sqrt(dx * dx + dy * dy)
    new_run = F.when(dist.isNull() | (dist > F.lit(radius)), 1).otherwise(0)
    run = (df.withColumn("__new__", new_run)
             .withColumn("stay_idx",
                         F.sum("__new__").over(
                             w.rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)) - 1))
    ts_type = df.schema[ts_col].dataType.simpleString()
    epoch = F.lit("1970-01-01 00:00:00").cast(ts_type)
    tus = F.timestamp_diff("MICROSECOND", epoch, F.col(ts_col))
    agg = (run.withColumn("__tus__", tus)
              .groupBy(track_col, "stay_idx")
              .agg(F.min(ts_col).alias("t_start"),
                   F.max(ts_col).alias("t_end"),
                   (F.max("__tus__") - F.min("__tus__")).alias("duration_us"),
                   F.avg(x_col).cast("float").alias("cx"),
                   F.avg(y_col).cast("float").alias("cy"),
                   F.count("*").alias("n_fixes")))
    return agg.filter((F.col("duration_us") >= min_us)
                      & (F.col("n_fixes") >= 2))


def geofence_sequence(fixes: DataFrame, zones: DataFrame,
                      track_col: str, ts_col: str,
                      x_col: str, y_col: str,
                      zone_id: str = "zone_id", zone_geom: str = "geom",
                      order_col: str | None = None,
                      level: int | None = None,
                      broadcast_zones: bool = True) -> DataFrame:
    """Geofencing: per (track, zone) visit intervals — enter fix, exit
    fix, dwell — from a fix stream and a polygon zone layer. Returns::

        (track, zone_id, visit, enter_seq, exit_seq, enter_ts, exit_ts,
         n_fixes, dwell_us)

    The enter/exit event stream the reference's live Kafka cache +
    CQL-filtered listeners are typically used to build (zone predicates
    over a feature stream); batch-expressed it is a composition of two
    operators this engine already has:

    1. per-track fix sequencing (ONE window shuffle: row_number over
       (ts, order_col) — the track_interpolate/stay_points ordering
       convention, order_col breaking ts ties deterministically),
    2. zone membership via the cell-cover PIP join
       (spatial_join.pip_join, st_intersects: the boundary counts as
       inside — CQL INTERSECTS semantics),
    3. gaps-and-islands over MEMBER rows only, per (track, zone): a
       fix run with consecutive seq numbers is one visit (sessionize's
       shape keyed by sequence gaps instead of time gaps). Non-member
       fixes never enter the window, so the state after the PIP join is
       proportional to time-inside, not track length.

    Dwell is exact integer microseconds (last member fix minus first —
    the sampled dwell; boundary-crossing interpolation would need the
    neighbor fixes and is out of scope). A visit of one fix has dwell 0.

    Scale shape: the PIP join is the engine's scale-safe cell join
    (broadcast zones by default — fence layers are small;
    broadcast_zones=False takes the shuffle cell join for a zone layer
    too large to broadcast), then one window + one combining agg keyed
    (track, zone) over member rows only.
    """
    from pyspark.sql import Window

    from .spatial_join import pip_join

    order = [F.col(ts_col).asc()]
    if order_col:
        order.append(F.col(order_col).asc())
    seqw = Window.partitionBy(track_col).orderBy(*order)
    seq = fixes.withColumn("__seq__", F.row_number().over(seqw))

    member = pip_join(seq, zones, x_col, y_col, zone_geom,
                      predicate="st_intersects", level=level,
                      broadcast_polys=broadcast_zones)

    vw = Window.partitionBy(track_col, zone_id).orderBy(F.col("__seq__"))
    gap = F.when(
        F.lag("__seq__").over(vw).isNull()
        | (F.col("__seq__") - F.lag("__seq__").over(vw) > 1), 1).otherwise(0)
    runs = (member.withColumn("__new__", gap)
                  .withColumn("visit",
                              F.sum("__new__").over(
                                  vw.rowsBetween(Window.unboundedPreceding,
                                                 Window.currentRow))))
    ts_type = fixes.schema[ts_col].dataType.simpleString()
    epoch = F.lit("1970-01-01 00:00:00").cast(ts_type)
    tus = F.timestamp_diff("MICROSECOND", epoch, F.col(ts_col))
    return (runs.withColumn("__tus__", tus)
                .groupBy(track_col, zone_id, "visit")
                .agg(F.min("__seq__").alias("enter_seq"),
                     F.max("__seq__").alias("exit_seq"),
                     F.min(ts_col).alias("enter_ts"),
                     F.max(ts_col).alias("exit_ts"),
                     F.count("*").alias("n_fixes"),
                     (F.max("__tus__") - F.min("__tus__")).alias("dwell_us")))


def od_matrix(fixes: DataFrame, zones: DataFrame,
              track_col: str, ts_col: str,
              x_col: str, y_col: str,
              zone_id: str = "zone_id", zone_geom: str = "geom",
              order_col: str | None = None,
              level: int | None = None,
              broadcast_zones: bool = True) -> DataFrame:
    """Origin-destination flow matrix: trip counts between consecutive
    zone visits per track. Returns (from_zone, to_zone, n_trips).

    Composes on `geofence_sequence`: visits per track ordered by their
    enter fix sequence number, each consecutive visit pair is one trip
    edge (a revisit of the same zone after leaving counts — it is a
    real round trip). One extra window + one combining agg on top of
    the geofence shape; the flow matrix is at most |zones|^2 rows, so
    the final shuffle is trivially small at any data scale.
    """
    from pyspark.sql import Window

    visits = geofence_sequence(fixes, zones, track_col, ts_col,
                               x_col, y_col, zone_id=zone_id,
                               zone_geom=zone_geom, order_col=order_col,
                               level=level, broadcast_zones=broadcast_zones)
    # zone_id tie-break: two zones entered at the SAME fix (overlapping
    # fences) share an enter_seq, and a single-key sort would leave the
    # trip direction to shuffle order
    w = Window.partitionBy(track_col).orderBy(F.col("enter_seq").asc(),
                                              F.col(zone_id).asc())
    return (visits
            .withColumn("__to__", F.lead(zone_id).over(w))
            .filter(F.col("__to__").isNotNull())
            .groupBy(F.col(zone_id).alias("from_zone"),
                     F.col("__to__").alias("to_zone"))
            .agg(F.count("*").alias("n_trips")))


def zone_paths(fixes: DataFrame, zones: DataFrame,
               track_col: str, ts_col: str,
               x_col: str, y_col: str, k: int = 3,
               zone_id: str = "zone_id", zone_geom: str = "geom",
               order_col: str | None = None,
               level: int | None = None,
               broadcast_zones: bool = True,
               min_count: int = 1) -> DataFrame:
    """Frequent k-length zone paths (travel-pattern mining): counts of
    every k-gram of consecutive zone visits across all tracks — the
    sequence generalization of :func:`od_matrix` (k=2 reproduces its
    edges). Returns (z1..zk, n_paths) with ``n_paths >= min_count``.

    Composes on `geofence_sequence`; the k-gram scan is k-1 lead()
    columns over ONE per-track window ordered by (enter_seq, zone_id)
    — the od_matrix tie rule — so no per-track visit list is ever
    collected; the final combining count agg is at most |zones|^k rows
    and usually tiny. State per track is O(1) regardless of track
    length: the lead window streams.
    """
    from pyspark.sql import Window

    if k < 2:
        raise ValueError("zone_paths needs k >= 2")
    visits = geofence_sequence(fixes, zones, track_col, ts_col,
                               x_col, y_col, zone_id=zone_id,
                               zone_geom=zone_geom, order_col=order_col,
                               level=level, broadcast_zones=broadcast_zones)
    w = Window.partitionBy(track_col).orderBy(F.col("enter_seq").asc(),
                                              F.col(zone_id).asc())
    cols = [F.col(zone_id).alias("z1")]
    cur = visits
    for i in range(1, k):
        cur = cur.withColumn(f"z{i + 1}", F.lead(zone_id, i).over(w))
        cols.append(F.col(f"z{i + 1}"))
    out = (cur.filter(F.col(f"z{k}").isNotNull())
              .groupBy(*[c for c in cols])
              .agg(F.count("*").alias("n_paths")))
    if min_count > 1:
        out = out.filter(F.col("n_paths") >= int(min_count))
    return out
