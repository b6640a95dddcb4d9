"""Grid-partitioned k-nearest-neighbors in one exact candidate round.

Re-expresses the reference KNN process
(geomesa-process/.../query/KNearestNeighborSearchProcess.scala:39-591).
The reference grows each query's window round by round with the
Liu/Lim/Ng density guess (:292-302) until it holds k points. Here every
query gets, before any candidate is joined, a search radius that
provably holds its k nearest neighbours, so one round is exact:

- Count map: the data rows inside the world (-180 <= x <= 180,
  -90 <= y <= 90) are counted per Z2 cell at the seed level
  ``min(level, DEFAULT_LEVEL)`` and collected. The collect holds one row
  per non-empty cell, at most 4^8 = 65,536 rows, whatever the data size.
  Rows outside the world are not counted: the cell key clamps them into
  an edge cell whose rectangle does not hold them. They still join as
  candidates. The sphere metric instead keys (and counts) a longitude
  outside +-180 from its wrapped value, which is where the haversine
  puts it, and centres each query's cover on its wrapped longitude;
  distances stay haversine on the raw columns.
- Radius: on a 2-D prefix sum of the counts, each query binary-searches
  the smallest m >= 0 such that the (2m+1)^2 block of seed cells around
  its own cell, clipped to the world, holds >= k counted points. Its
  radius is the distance to that block's farthest corner (degrees:
  ``hypot``; sphere: ``R * (dphi + dlambda)``, the length of a
  parallel-then-meridian path, which is >= the haversine), times
  ``1 + 1e-9`` against rounding and capped at ``max_radius``; with no
  such block it is ``max_radius``.
- Exactness: the k counted points lie inside the radius, so the k-th
  neighbour distance is <= the radius. The cell cover of
  ``[x +- r, y +- r]`` holds every point within r, and candidates are
  kept iff ``dist <= r``, so ties at the k-th distance are all present.
  A data point has one cell and the cover lists a cell once, so the
  round yields each (query, data) pair at most once.
- Final: exact top-k per query via window ``row_number() over (partition
  by qid order by dist, neighbor id)`` — the reference's fixed-k
  farthest-replacement array (:314-399) as a declarative window.

Scale shape: the query side is tiny (thousands) and broadcast; one
Arrow UDF on it computes the radius and the cell cover together, so the
query side crosses into Python once. The data side keeps its
one-cell-per-point key: one grouped count for the count map, then one
broadcast join pruned to the covered cells. The only shuffle after the
count is the final window over candidate rows.

Metrics: 'degrees' (cartesian, matches st_distance) or 'sphere'
(haversine meters, matches st_distanceSphere).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from .cache import attach_cached
from .spatial_join import (
    DEFAULT_LEVEL, _grid_of_bbox, cells_of_disk_arrays, sphere_expand_degrees,
    with_point_cell, wrapped_lon,
)

from ..curves.zorder import z2_decode
from ..geom.measures import EARTH_MEAN_RADIUS_M as EARTH_RADIUS_M


def _dist_expr(qx, qy, px, py, metric: str):
    if metric == "degrees":
        return F.sqrt((qx - px) * (qx - px) + (qy - py) * (qy - py))
    if metric == "sphere":
        from ..geom.measures import haversine_col

        return haversine_col(qx, qy, px, py)
    raise ValueError(metric)


def _count_prefix(data: DataFrame, x: str, y: str, level: int,
                  metric: str) -> np.ndarray:
    """2-D prefix sum of the in-world rows of ``data`` per Z2 cell at the
    seed level ``min(level, DEFAULT_LEVEL)``: ``c[j, i]`` counts the rows
    in cells ``[0, i) x [0, j)``. Computed afresh on every call: a stale
    count could give a radius too small to hold the k nearest
    neighbours. The sphere metric counts every finite longitude, in the
    cell of its wrapped value."""
    level = min(level, DEFAULT_LEVEL)
    sphere = metric == "sphere"
    lon_lo, lon_hi = (-math.inf, math.inf) if sphere else (-180.0, 180.0)
    inworld = data.filter(F.col(x).between(lon_lo, lon_hi)
                          & F.col(y).between(-90.0, 90.0))
    # one row per non-empty cell: at most 4^level <= 65,536 rows
    rows = (with_point_cell(inworld.select(x, y), x, y, level, wrap_lon=sphere)
            .groupBy("__cell__").count().collect())
    n = 1 << level
    grid = np.zeros((n + 1, n + 1), dtype=np.int64)
    if rows:
        cells, counts = np.array([tuple(r) for r in rows], dtype=np.int64).T
        i, j = z2_decode(cells)
        grid[j + 1, i + 1] = counts
    return grid.cumsum(0).cumsum(1)


def _ring_radius(xs, ys, k: int, csum: np.ndarray, metric: str) -> np.ndarray:
    """Per query, the distance to the farthest corner of the smallest
    square block of count-map cells around its own cell that holds >= k
    counted points, times ``1 + 1e-9`` (an exact upper bound on the
    k-th neighbour distance); inf where no block holds k."""
    n = csum.shape[0] - 1
    level = n.bit_length() - 1
    ok = np.isfinite(xs) & np.isfinite(ys)
    xs0, ys0 = np.where(ok, xs, 0.0), np.where(ok, ys, 0.0)
    i, _, j, _ = _grid_of_bbox(xs0, ys0, xs0, ys0, level)

    def block(m):
        """Cell index bounds [i0, i1) x [j0, j1) of the (2m+1)^2 block."""
        return (np.maximum(i - m, 0), np.minimum(i + m, n - 1) + 1,
                np.maximum(j - m, 0), np.minimum(j + m, n - 1) + 1)

    def holds_k(m):
        i0, i1, j0, j1 = block(m)
        return csum[j1, i1] - csum[j0, i1] - csum[j1, i0] + csum[j0, i0] >= k

    # the block count grows with m: binary-search the smallest m per query
    lo, hi = np.zeros_like(i), np.full_like(i, n - 1)
    reach = holds_k(hi)
    while np.any(lo < hi):
        mid = (lo + hi) // 2
        holds = holds_k(mid)
        hi, lo = np.where(holds, mid, hi), np.where(holds, lo, mid + 1)
    i0, i1, j0, j1 = block(lo)
    cw, ch = 360.0 / n, 180.0 / n
    ddx = np.maximum(np.abs(xs0 - (-180.0 + i0 * cw)), np.abs(xs0 - (-180.0 + i1 * cw)))
    ddy = np.maximum(np.abs(ys0 - (-90.0 + j0 * ch)), np.abs(ys0 - (-90.0 + j1 * ch)))
    if metric == "degrees":
        r = np.hypot(ddx, ddy)
    else:
        r = EARTH_RADIUS_M * (np.radians(ddx) + np.radians(ddy))
    return np.where(reach, r * (1.0 + 1e-9), np.inf)


def _search_cells(df: DataFrame, x: str, y: str, bound, k: int,
                  csum: np.ndarray, level: int, metric: str) -> DataFrame:
    """``df`` plus its search radius ``__r__`` — the smaller of the
    count-map ring radius and the per-row ``bound`` column — exploded to
    one row per Z2 cell (``__cell__``, at ``level``) covering that disk.
    One Arrow UDF computes both; a row with a null coordinate covers no
    cell (cells_of_disk_arrays) and drops out. The sphere metric centres
    the disk on the wrapped longitude, where its data cells are keyed."""
    schema = StructType([StructField("r", DoubleType()),
                         StructField("cells", ArrayType(LongType()))])

    @F.pandas_udf(schema)
    def seed(xv: pd.Series, yv: pd.Series, bv: pd.Series) -> pd.DataFrame:
        xs = xv.to_numpy(np.float64)
        ys = yv.to_numpy(np.float64)
        r = np.fmin(_ring_radius(xs, ys, k, csum, metric), bv.to_numpy(np.float64))
        if metric == "sphere":  # meters -> conservative per-dim degrees
            rlon, rlat = sphere_expand_degrees(ys, r)
        else:
            rlat = rlon = r
        return pd.DataFrame({"r": r,
                             "cells": cells_of_disk_arrays(xs, ys, rlon, rlat, level)})

    cols = df.columns
    # coalesce: a nullable radius makes the join infer isnotnull(__r__),
    # which the optimizer pushes below the UDF as a second UDF call
    cx = wrapped_lon(F.col(x)) if metric == "sphere" else F.col(x)
    return (df.withColumn("__s__", seed(cx, F.col(y), bound))
              .select(*cols, F.coalesce(F.col("__s__.r"), F.lit(0.0)).alias("__r__"),
                      F.explode("__s__.cells").alias("__cell__")))


def _top_k(cand: DataFrame, key: str, data_id: str, k: int) -> DataFrame:
    win = Window.partitionBy(key).orderBy(F.col("dist").asc(), F.col(data_id).asc())
    return (cand.withColumn("rank", F.row_number().over(win))
                .filter(F.col("rank") <= k))


def knn_join(
    queries: DataFrame,
    data: DataFrame,
    k: int,
    query_id: str = "qid",
    qx: str = "qx",
    qy: str = "qy",
    dx: str = "lon",
    dy: str = "lat",
    data_id: str = "did",
    metric: str = "degrees",
    initial_radius: float = 1.0,
    max_radius: float = 50.0,
    max_rounds: int = 4,
    level: int = DEFAULT_LEVEL,
) -> DataFrame:
    """k nearest data points per query point.

    Returns (all query cols, all data cols, dist, rank 1..k). Deterministic
    tie-break on (dist, data_id). No neighbour farther than ``max_radius``
    is returned, so a query with fewer than k data points within it gets
    fewer rows; a query with a null coordinate gets none.

    ``initial_radius`` and ``max_rounds`` are accepted for existing
    callers and change neither the rows nor the plan: every query's
    radius comes from the per-cell counts (module docstring).
    """
    csum = _count_prefix(data, dx, dy, level, metric)
    qe = _search_cells(queries, qx, qy, F.lit(float(max_radius)), k, csum,
                       level, metric)
    dist = _dist_expr(F.col(qx), F.col(qy), F.col(dx), F.col(dy), metric)
    keyed = with_point_cell(data, dx, dy, level, wrap_lon=metric == "sphere")
    cand = (F.broadcast(qe).join(keyed, on="__cell__", how="inner")
             .withColumn("dist", dist)
             .filter(F.col("dist") <= F.col("__r__"))
             .drop("__cell__", "__r__"))
    return attach_cached(_top_k(cand, query_id, data_id, k))


def all_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str,
    lx: str,
    ly: str,
    right_id: str,
    rx: str,
    ry: str,
    metric: str = "degrees",
    level: int = DEFAULT_LEVEL,
    max_radius: float | None = None,
) -> DataFrame:
    """k nearest ``right`` points per ``left`` point — BOTH sides large.

    :func:`knn_join` broadcasts the query side (the reference process's
    shape: thousands of queries against a big store). This is the other
    regime — an all-kNN join where neither side fits on one node — so
    nothing is broadcast, and the only collect is the count map of the
    right side (one row per non-empty cell, at most 65,536 rows):

    - Phase 1: both sides co-shuffle on their Z2 cell; where a left's
      cell holds >= k right points, the in-cell kth distance is an
      exact search-radius upper bound (the true kth neighbor can only
      be closer). It keeps the radius tight in dense cells.
    - Seed: each left's radius is the smaller of that bound and the
      count-map ring radius over ``right`` (see the module docstring),
      capped at ``max_radius``. Both are exact upper bounds.
    - One round: each left explodes to the cells covering its disk and
      shuffle-joins ``right`` on the cell (knn_join's round, minus the
      broadcast).

    Exactness: the disk holds the true top-k, the cell cover is a
    superset of the closed disk, and the final window top-k over
    in-radius candidates is the true top-k with deterministic
    (dist, right_id) tie-break.

    Scale shape: shuffles carry (cell, id, x, y) rows only; hot cells are
    plain shuffle-join skew (AQE splits them). Pick ``level`` so the
    right side holds roughly 4k-100 points per cell — the phase-1 cell
    join is |L_c| x |R_c| per cell, so cells should stay people-sized.
    Left and right column names must be disjoint.
    """
    if max_radius is None:
        max_radius = 405.0 if metric == "degrees" else math.pi * EARTH_RADIUS_M
    sphere = metric == "sphere"
    csum = _count_prefix(right, rx, ry, level, metric)
    rc = with_point_cell(right, rx, ry, level, wrap_lon=sphere)
    dist = _dist_expr(F.col(lx), F.col(ly), F.col(rx), F.col(ry), metric)

    # phase 1: same-cell kth distance, a bound wherever the cell holds k
    lc = with_point_cell(left, lx, ly, level, wrap_lon=sphere)
    w0 = Window.partitionBy(left_id).orderBy(
        F.col("__d0__").asc(), F.col(right_id).asc())
    kth = (lc.join(rc, on="__cell__", how="inner")
             .withColumn("__d0__", dist)
             .withColumn("__rn__", F.row_number().over(w0))
             .filter(F.col("__rn__") <= k)
             .groupBy(left_id)
             .agg(F.max("__d0__").alias("__dk__"),
                  F.count("*").alias("__n0__")))
    # least() skips the null of a left whose cell holds < k
    bound = F.least(F.when(F.col("__n0__") >= k, F.col("__dk__")),
                    F.lit(float(max_radius)))
    live = left.join(kth, on=left_id, how="left")
    qe = _search_cells(live, lx, ly, bound, k, csum, level, metric)
    cand = (qe.join(rc, on="__cell__", how="inner")
              .withColumn("dist", dist)
              .filter(F.col("dist") <= F.col("__r__"))
              .drop("__cell__", "__r__", "__dk__", "__n0__"))
    return attach_cached(_top_k(cand, left_id, right_id, k))


def knn_classify(queries: DataFrame, data: DataFrame, k: int,
                 label_col: str, **knn_kwargs) -> DataFrame:
    """Spatial kNN classification / geo-imputation: each query point
    takes the MAJORITY label among its k nearest data points — assign
    a region/market/landuse class to an unlabeled location from its
    labeled neighbors (the supervised companion of :func:`knn_join`;
    reference analog: the KNearestNeighborSearchProcess feeding a
    client-side vote).

    Scale shape: knn_join's one count-seeded candidate round does all
    the heavy lifting; the vote adds one combining (query, label)
    count and ONE combining struct-max per query (the peak_bucket
    argmax-without-a-window shape). Ties break on the LARGER label
    under binary string order — deterministic in any engine. Returns
    (query_id, label, n_votes).
    """
    if k < 1:
        raise ValueError(f"knn_classify needs k >= 1, got {k}")
    query_id = knn_kwargs.get("query_id", "qid")
    nn = knn_join(queries, data, k=k, **knn_kwargs)
    votes = (nn.groupBy(F.col(query_id), F.col(label_col).alias("__lbl__"))
               .agg(F.count("*").alias("__n__")))
    best = F.max(F.struct(F.col("__n__"), F.col("__lbl__")))
    out = (votes.groupBy(query_id).agg(best.alias("__best__"))
                .select(F.col(query_id),
                        F.col("__best__.__lbl__").alias("label"),
                        F.col("__best__.__n__").alias("n_votes")))
    return attach_cached(out, *getattr(nn, "_geomesa_cached", []))
