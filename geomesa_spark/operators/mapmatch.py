"""Map-matching: snap GPS points to their nearest road segment.

The reference's proximity family (ProximitySearchProcess.scala:25,
KNearestNeighborSearchProcess) answers "which features are near this
point"; map-matching is its trajectory-pipeline specialization — every
fix snaps to the nearest segment of a (large) road network, yielding
the (segment id, offset) stream that route inference, ETA models and
road-level rollups consume.

Spark-first shape: the road network explodes ONCE to the grid cells
covering each segment's envelope expanded by ``max_dist`` (pure JVM
sequence-explodes — the spatial_join sidecar trick), points carry their
single (gi, gj) key, and the candidate equi-join shuffles 8-byte grid
keys only. The point-to-segment projection (clamped parametric t) and
distance run as codegen'd expressions; the nearest segment per point is
ONE combining min(struct(dist, seg_id, ...)) aggregation — map-side
partial, no window shuffle, deterministic (dist, seg_id) tie-break.

At 10^12 fixes the only shuffle is the candidate join; road networks
are ~10^8 segments so the exploded cell table is modest, and hot urban
cells are plain join skew (AQE). Planar degree metric: the operator is
exact for the projected/planar coordinates a road-snapping pipeline
works in; convert or scale upstream for geodesic needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..curves import zexpr
from .spatial_join import DEFAULT_LEVEL

__all__ = ["track_segments", "snap_join", "segment_intersections"]


def track_segments(df: DataFrame, track_col: str, x_col: str, y_col: str,
                   order_col: str) -> DataFrame:
    """Consecutive-fix segments of ordered tracks: one row
    (track, seg_idx, x1, y1, x2, y2) per fix pair — the road-network
    constructor when roads arrive as ordered vertex streams (and the
    inverse of a polyline explode). One keyed window, no Python."""
    w = Window.partitionBy(track_col).orderBy(order_col)
    return (df.select(F.col(track_col).alias("track"),
                      F.col(x_col).cast("double").alias("x1"),
                      F.col(y_col).cast("double").alias("y1"),
                      F.lead(F.col(x_col).cast("double")).over(w).alias("x2"),
                      F.lead(F.col(y_col).cast("double")).over(w).alias("y2"),
                      (F.row_number().over(w) - 1).alias("seg_idx"))
              .filter(F.col("x2").isNotNull() & F.col("y2").isNotNull()))


def snap_join(points: DataFrame, segments: DataFrame,
              point_id: str, px: str, py: str,
              seg_id: str, x1: str, y1: str, x2: str, y2: str,
              max_dist: float,
              level: int = DEFAULT_LEVEL,
              how: str = "inner") -> DataFrame:
    """Nearest-segment snap: for each point the closest segment within
    ``max_dist`` (planar), with the clamped projection parameter and
    the snapped coordinate.

    Returns (point_id, seg_id, snap_t, snap_x, snap_y, snap_dist);
    ``how='left'`` keeps unmatched points with NULL segment columns.
    Ties on distance break by ``seg_id`` ascending (lexicographic
    struct-min), so the match is deterministic. Pick ``level`` so cells
    are no smaller than ``max_dist`` (each segment explodes to the
    cells of its expanded envelope: n_cells ~ (len/cell + 2)^2).
    """
    sgx0 = F.least(F.col(x1), F.col(x2)) - F.lit(float(max_dist))
    sgx1 = F.greatest(F.col(x1), F.col(x2)) + F.lit(float(max_dist))
    sgy0 = F.least(F.col(y1), F.col(y2)) - F.lit(float(max_dist))
    sgy1 = F.greatest(F.col(y1), F.col(y2)) + F.lit(float(max_dist))
    segs = (segments.select(
                F.col(seg_id).alias("__sid__"),
                F.col(x1).cast("double").alias("__x1__"),
                F.col(y1).cast("double").alias("__y1__"),
                F.col(x2).cast("double").alias("__x2__"),
                F.col(y2).cast("double").alias("__y2__"),
                F.explode(F.sequence(zexpr.lon_cell(sgx0, level),
                                     zexpr.lon_cell(sgx1, level))).alias("__gi__"),
                sgy0.alias("__sgy0__"), sgy1.alias("__sgy1__"))
            .select("__sid__", "__x1__", "__y1__", "__x2__", "__y2__",
                    "__gi__",
                    F.explode(F.sequence(zexpr.lat_cell(F.col("__sgy0__"), level),
                                         zexpr.lat_cell(F.col("__sgy1__"), level)))
                     .alias("__gj__")))
    pts = points.select(
        F.col(point_id), F.col(px).cast("double").alias("__px__"),
        F.col(py).cast("double").alias("__py__"),
        zexpr.lon_cell(F.col(px).cast("double"), level).alias("__gi__"),
        zexpr.lat_cell(F.col(py).cast("double"), level).alias("__gj__"))

    dx = F.col("__x2__") - F.col("__x1__")
    dy = F.col("__y2__") - F.col("__y1__")
    len2 = dx * dx + dy * dy
    dot = ((F.col("__px__") - F.col("__x1__")) * dx
           + (F.col("__py__") - F.col("__y1__")) * dy)
    tt = F.when(len2 == F.lit(0.0), F.lit(0.0)).otherwise(
        F.least(F.greatest(dot / len2, F.lit(0.0)), F.lit(1.0)))
    sx = F.col("__x1__") + tt * dx
    sy = F.col("__y1__") + tt * dy
    ex = F.col("__px__") - sx
    ey = F.col("__py__") - sy
    dist = F.sqrt(ex * ex + ey * ey)

    cand = (pts.join(segs, on=["__gi__", "__gj__"])
               .withColumn("__d__", dist)
               .filter(F.col("__d__") <= F.lit(float(max_dist)))
               .withColumn("__t__", tt)
               .withColumn("__sx__", sx)
               .withColumn("__sy__", sy))
    best = (cand.groupBy(point_id)
                .agg(F.min(F.struct(
                    F.col("__d__").alias("d"),
                    F.col("__sid__").alias("sid"),
                    F.col("__t__").alias("t"),
                    F.col("__sx__").alias("sx"),
                    F.col("__sy__").alias("sy"))).alias("__b__"))
                .select(point_id,
                        F.col("__b__.sid").alias("seg_id"),
                        F.col("__b__.t").alias("snap_t"),
                        F.col("__b__.sx").alias("snap_x"),
                        F.col("__b__.sy").alias("snap_y"),
                        F.col("__b__.d").alias("snap_dist")))
    if how == "inner":
        return best
    if how != "left":
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    return points.select(point_id).join(best, on=point_id, how="left")


def segment_intersections(a: DataFrame, b: DataFrame,
                          a_id: str, ax1: str, ay1: str, ax2: str, ay2: str,
                          b_id: str, bx1: str, by1: str, bx2: str, by2: str,
                          level: int = DEFAULT_LEVEL) -> DataFrame:
    """Crossing points between two segment layers — where do tracks
    cross roads, roads cross rivers, cables cross pipelines. Returns
    (a_id, b_id, ix, iy, ta, tb) for every PROPER (non-parallel)
    intersecting pair, endpoints inclusive; ta/tb are the parametric
    positions on each segment. Parallel/collinear overlaps have no
    single crossing point and are excluded (test overlap with
    :func:`snap_join` or an interval join on the shared line instead).

    Scale shape: both layers explode to the grid cells of their own
    envelopes (codegen'd sequence-explodes), meet on the report-once
    canonical cell (max of per-axis cover minima — the spatial_join
    rule, no pair-dedup shuffle), and the exact parametric test

        denom = (ax2-ax1)(by2-by1) - (ay2-ay1)(bx2-bx1)
        ta, tb in [0, 1] via the standard cross-ratio formulas

    is one fixed double chain in whole-stage codegen — engine-
    reproducible crossing coordinates, no Python anywhere.
    """
    def _side(df, sid, x1, y1, x2, y2, tag):
        from .spatial_join import _explode_bbox_ij
        ex0 = F.least(F.col(x1), F.col(x2)).cast("double")
        ex1 = F.greatest(F.col(x1), F.col(x2)).cast("double")
        ey0 = F.least(F.col(y1), F.col(y2)).cast("double")
        ey1 = F.greatest(F.col(y1), F.col(y2)).cast("double")
        base = df.select(F.col(sid).alias(f"__{tag}id__"),
                         F.col(x1).cast("double").alias(f"__{tag}x1__"),
                         F.col(y1).cast("double").alias(f"__{tag}y1__"),
                         F.col(x2).cast("double").alias(f"__{tag}x2__"),
                         F.col(y2).cast("double").alias(f"__{tag}y2__"),
                         ex0.alias(f"__{tag}e0__"), ey0.alias(f"__{tag}e1__"),
                         ex1.alias(f"__{tag}e2__"), ey1.alias(f"__{tag}e3__"))
        return _explode_bbox_ij(base, F.col(f"__{tag}e0__"),
                                F.col(f"__{tag}e1__"), F.col(f"__{tag}e2__"),
                                F.col(f"__{tag}e3__"), level, tag)

    l = _side(a, a_id, ax1, ay1, ax2, ay2, "a")
    r = _side(b, b_id, bx1, by1, bx2, by2, "b")
    pairs = (l.join(r, on=["__gi__", "__gj__"])
              .filter((F.col("__gi__") == F.greatest("__agi0__", "__bgi0__"))
                      & (F.col("__gj__") == F.greatest("__agj0__", "__bgj0__")))
              # exact envelope overlap reject ahead of the arithmetic
              .filter((F.col("__ae0__") <= F.col("__be2__"))
                      & (F.col("__be0__") <= F.col("__ae2__"))
                      & (F.col("__ae1__") <= F.col("__be3__"))
                      & (F.col("__be1__") <= F.col("__ae3__"))))
    rx = F.col("__ax2__") - F.col("__ax1__")
    ry = F.col("__ay2__") - F.col("__ay1__")
    sx = F.col("__bx2__") - F.col("__bx1__")
    sy = F.col("__by2__") - F.col("__by1__")
    qpx = F.col("__bx1__") - F.col("__ax1__")
    qpy = F.col("__by1__") - F.col("__ay1__")
    denom = rx * sy - ry * sx
    ta = (qpx * sy - qpy * sx) / denom
    tb = (qpx * ry - qpy * rx) / denom
    hit = (pairs.filter(denom != F.lit(0.0))
                .withColumn("ta", ta)
                .withColumn("tb", tb)
                .filter((F.col("ta") >= 0.0) & (F.col("ta") <= 1.0)
                        & (F.col("tb") >= 0.0) & (F.col("tb") <= 1.0)))
    return hit.select(F.col("__aid__").alias("a_id"),
                      F.col("__bid__").alias("b_id"),
                      (F.col("__ax1__") + F.col("ta") * rx).alias("ix"),
                      (F.col("__ay1__") + F.col("ta") * ry).alias("iy"),
                      "ta", "tb")
