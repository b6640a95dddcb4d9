"""Grid-partitioned k-nearest-neighbors with border expansion.

Re-expresses the reference KNN process
(geomesa-process/.../query/KNearestNeighborSearchProcess.scala:39-591) as
iterative DataFrame rounds:

- Round: each live query point covers the cells of its current search-disk
  bbox (the reference's expanding window query, :425-432); candidates come
  from an equi-join on the data points' Z2 cell, distances computed
  vectorized, kept iff <= radius.
- Expansion (border re-join): queries with < k in-radius neighbors grow
  their radius by the reference's Liu/Lim/Ng density rule (:292-302):
  ``r*2`` when nothing was found, else ``sqrt(k / (pi*density))`` where
  density = found / (2r)^2 (the reference estimates density over the
  square query window), i.e. ``2r * sqrt(k/(pi*n))`` — always > r for
  n < k; capped at ``max_radius``. The re-join re-queries the whole disk
  and dedupes on (query, neighbor) — equivalent row set to the
  reference's ring-shaped re-query (Envelope.minus:498-520). Queries
  that exhaust ``max_rounds`` still short of k re-query once at exactly
  ``max_radius`` (broadcast nested-loop + salted two-phase top-k), so
  the result is exact whenever ``max_radius`` spans the domain.
- Final: exact top-k per query via window ``row_number() over (partition
  by qid order by dist, neighbor id)`` — the reference's fixed-k
  farthest-replacement array (:314-399) as a declarative window.

Scale shape: the query side is tiny (thousands) and broadcast; the data
side keeps its one-cell-per-point key so each round is a broadcast join
pruned to the covered cells — no data-side shuffle at any round. The only
shuffle is the final window over candidate rows (#queries * ~k rows).

Metrics: 'degrees' (cartesian, matches st_distance) or 'sphere'
(haversine meters, matches st_distanceSphere).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .cache import attach_cached
from .spatial_join import (
    DEFAULT_LEVEL, cells_of_disk_arrays, sphere_expand_degrees, with_point_cell,
)

from ..geom.measures import EARTH_MEAN_RADIUS_M as EARTH_RADIUS_M


def _dist_expr(qx, qy, px, py, metric: str):
    if metric == "degrees":
        return F.sqrt((qx - px) * (qx - px) + (qy - py) * (qy - py))
    if metric == "sphere":
        from ..geom.measures import haversine_col

        return haversine_col(qx, qy, px, py)
    raise ValueError(metric)


def _query_cells(queries, qx: str, qy: str, radius_col: str, level: int,
                 metric: str):
    """Explode each query to the Z2 cells covering its search-disk bbox."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def cover(x: pd.Series, y: pd.Series, r: pd.Series) -> pd.Series:
        xs = x.to_numpy(np.float64)
        ys = y.to_numpy(np.float64)
        rs = r.to_numpy(np.float64)
        if metric == "sphere":  # meters -> conservative per-dim degrees
            rlon, rlat = sphere_expand_degrees(ys, rs)
        else:
            rlat = rlon = rs
        cells = cells_of_disk_arrays(xs, ys, rlon, rlat, level)
        return pd.Series(cells, dtype=object)

    return queries.withColumn("__cells__", cover(F.col(qx), F.col(qy), F.col(radius_col)))


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
    tie-break on (dist, data_id).
    """
    data_c = with_point_cell(data, dx, dy, level)

    live = queries.withColumn("__r__", F.lit(float(initial_radius)))
    all_cand = None
    cached = []
    need = None
    for rnd in range(max_rounds):
        qc = _query_cells(live, qx, qy, "__r__", level, metric)
        qe = qc.withColumn("__cell__", F.explode("__cells__")).drop("__cells__")
        dist = _dist_expr(F.col(qx), F.col(qy), F.col(dx), F.col(dy), metric)
        cand = (
            F.broadcast(qe).join(data_c, on="__cell__", how="inner")
             .withColumn("dist", dist)
             .filter(F.col("dist") <= F.col("__r__"))
             .drop("__cell__")
        )
        # persist: this round's join feeds (a) the per-round count action,
        # (b) the isEmpty check via `need`, and (c) the final union —
        # without it round 1 re-executes once per later round
        cand = cand.persist()
        cached.append(cand)
        all_cand = cand if all_cand is None else all_cand.unionByName(cand)
        # which queries still need expansion? counted in EVERY round —
        # the final round's survivors feed the completeness fallback below
        counts = cand.groupBy(query_id).agg(F.count("*").alias("__n__"))
        need = (live.join(counts, on=query_id, how="left")
                    .fillna({"__n__": 0})
                    .filter((F.col("__n__") < k)
                            # already capped at max_radius: the window
                            # cannot grow, so re-running the identical
                            # cover/join/count every remaining round is
                            # pure waste — retire the query with what it has
                            & (F.col("__r__") < float(max_radius))))
        if need.isEmpty():
            need = None
            break
        if rnd == max_rounds - 1:
            break
        # Liu/Lim/Ng radius update (KNearestNeighborSearchProcess.scala:
        # 292-302): density estimated over the SQUARE window (2r)^2, so
        # new r = sqrt(k / (pi * n / (2r)^2)) = 2r * sqrt(k/(pi*n)) —
        # always > r while n < k
        new_r = F.when(F.col("__n__") == 0, F.col("__r__") * 2).otherwise(
            F.lit(2.0) * F.col("__r__")
            * F.sqrt(F.lit(float(k)) / (F.lit(math.pi) * F.col("__n__"))))
        live = (need.withColumn("__r__", F.least(new_r, F.lit(float(max_radius))))
                    .drop("__n__"))

    if need is not None:
        # Completeness fallback: the Liu/Lim/Ng growth is slow for
        # 1 <= n < k (~1.26x/round at n=k-1), so a query can exhaust
        # max_rounds with < k in-radius neighbors and a radius far below
        # max_radius — its vote/top-k would then silently use a smaller
        # neighbor set than the exact unbounded answer. Stragglers
        # re-query ONCE at exactly max_radius against the FULL data side:
        # no cell cover (a domain-wide window at `level` would explode to
        # 4^level cells per query) — the straggler set is tiny by
        # construction, so a broadcast nested-loop streams the data side
        # map-only. A salted two-phase top-k bounds what reaches the
        # final per-query window to <= 32*k rows per straggler even when
        # the in-radius candidate set is the whole table, so no single
        # (query) partition ever sees unbounded fan-in. With max_radius
        # covering the metric's domain diameter (405 degrees / pi*R
        # meters) the join is EXACT for every query.
        strag = need.drop("__n__").withColumn(
            "__r__", F.lit(float(max_radius)))
        # Guard: the fallback broadcasts the stragglers and streams the
        # FULL data side against them, which is only cheap while the
        # straggler set is tiny (the normal case — a few sparse-region
        # queries). A mis-parameterized call (k far above the local
        # density everywhere, max_rounds too small) could route a large
        # query fraction here and degrade into a near-cartesian job —
        # make that visible instead of silent. The count is one cheap
        # job over the already-persisted round frames, bounded so it
        # never counts past the threshold.
        if strag.limit(10_001).count() > 10_000:
            import logging
            logging.getLogger(__name__).warning(
                "knn_join completeness fallback engaged for more than "
                "10000 queries: the broadcast nested-loop re-query scans "
                "the full data side per straggler batch. Consider raising "
                "max_rounds or the initial radius, or lowering k.")
        dist = _dist_expr(F.col(qx), F.col(qy), F.col(dx), F.col(dy), metric)
        w1 = Window.partitionBy(query_id, "__salt__").orderBy(
            F.col("dist").asc(), F.col(data_id).asc())
        fcand = (data.crossJoin(F.broadcast(strag))
                     .withColumn("dist", dist)
                     .filter(F.col("dist") <= F.col("__r__"))
                     .withColumn("__salt__",
                                 F.pmod(F.hash(F.col(data_id)), F.lit(32)))
                     .withColumn("__rk__", F.row_number().over(w1))
                     .filter(F.col("__rk__") <= k)
                     .drop("__salt__", "__rk__"))
        all_cand = all_cand.unionByName(fcand)

    dedup = all_cand.dropDuplicates([query_id, data_id])
    win = Window.partitionBy(query_id).orderBy(F.col("dist").asc(), F.col(data_id).asc())
    out = (dedup.withColumn("rank", F.row_number().over(win))
                .filter(F.col("rank") <= k)
                .drop("__r__"))
    return attach_cached(out, *cached)


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
    max_rounds: int | None = None,
    max_radius: float | None = None,
) -> DataFrame:
    """k nearest ``right`` points per ``left`` point — BOTH sides large.

    :func:`knn_join` broadcasts the query side (the reference process's
    shape: thousands of queries against a big store). This is the other
    regime — an all-kNN join where neither side fits on one node — so
    nothing is broadcast or collected:

    - Phase 1 (seed): both sides co-shuffle on their Z2 cell; the in-cell
      kth distance is an EXACT per-left search-radius upper bound (the
      true kth neighbor can only be closer). Lefts whose cell held < k
      candidates seed from the cell diagonal instead.
    - Rounds: each live left explodes to the cells covering its own disk
      and shuffle-joins ``right`` on the cell (the same expanding-window
      re-query as knn_join, minus the broadcast). A left retires when its
      disk holds >= k candidates; otherwise its radius doubles (capped at
      ``max_radius``, reference Liu/Lim/Ng growth,
      KNearestNeighborSearchProcess.scala:292-302).

    Exactness: if disk(r) holds >= k candidates then the true kth
    distance is <= r, the cell cover is a superset of the closed disk,
    and the final window top-k over in-radius candidates is the true
    top-k with deterministic (dist, right_id) tie-break.

    Scale shape: shuffles carry (cell, id, x, y) rows only; hot cells are
    plain shuffle-join skew (AQE splits them). Pick ``level`` so the
    right side holds roughly 4k-100 points per cell — the phase-1 cell
    join is |L_c| x |R_c| per cell, so cells should stay people-sized.
    Left and right column names must be disjoint.
    """
    if max_radius is None:
        max_radius = 405.0 if metric == "degrees" else math.pi * EARTH_RADIUS_M
    diag = math.hypot(360.0 / (1 << level), 180.0 / (1 << level))
    seed_r = diag if metric == "degrees" else diag * 111_320.0
    if max_rounds is None:
        # enough doublings for the worst-case diagonal seed to reach
        # max_radius (round r's disk is seed_r * 2^(r-1)); +2 covers the
        # seed round and one final full-radius round. Converged queries
        # retire via the isEmpty() check, so a generous bound costs
        # nothing — a tight one silently returns < k rows.
        max_rounds = max(
            2, math.ceil(math.log2(max(max_radius / seed_r, 1.0))) + 2)

    rc = with_point_cell(right, rx, ry, level)
    dist = _dist_expr(F.col(lx), F.col(ly), F.col(rx), F.col(ry), metric)

    # phase 1: same-cell kth distance as the exact radius seed
    lc = with_point_cell(left, lx, ly, level)
    w0 = Window.partitionBy(left_id).orderBy(
        F.col("__d0__").asc(), F.col(right_id).asc())
    kth = (lc.join(rc, on="__cell__", how="inner")
             .withColumn("__d0__", dist)
             .withColumn("__rn__", F.row_number().over(w0))
             .filter(F.col("__rn__") <= k)
             .groupBy(left_id)
             .agg(F.max("__d0__").alias("__dk__"),
                  F.count("*").alias("__n0__")))
    live = (left.join(kth, on=left_id, how="left")
                .withColumn("__r__", F.when(F.col("__n0__") >= k, F.col("__dk__"))
                                      .otherwise(F.lit(float(seed_r))))
                .drop("__dk__", "__n0__"))

    all_cand = None
    cached = []
    for rnd in range(max_rounds):
        qc = _query_cells(live, lx, ly, "__r__", level, metric)
        qe = qc.withColumn("__cell__", F.explode("__cells__")).drop("__cells__")
        cand = (qe.join(rc, on="__cell__", how="inner")
                  .withColumn("dist", dist)
                  .filter(F.col("dist") <= F.col("__r__"))
                  .drop("__cell__")
                  .persist())
        cached.append(cand)
        all_cand = cand if all_cand is None else all_cand.unionByName(cand)
        if rnd == max_rounds - 1:
            break
        counts = cand.groupBy(left_id).agg(F.count("*").alias("__n__"))
        need = (live.join(counts, on=left_id, how="left")
                    .fillna({"__n__": 0})
                    .filter((F.col("__n__") < k)
                            & (F.col("__r__") < float(max_radius))))
        if need.isEmpty():
            break
        live = (need.withColumn(
                    "__r__",
                    F.least(F.col("__r__") * 2, F.lit(float(max_radius))))
                    .drop("__n__"))

    dedup = all_cand.dropDuplicates([left_id, right_id])
    win = Window.partitionBy(left_id).orderBy(F.col("dist").asc(), F.col(right_id).asc())
    out = (dedup.withColumn("rank", F.row_number().over(win))
                .filter(F.col("rank") <= k)
                .drop("__r__"))
    return attach_cached(out, *cached)


def knn_classify(queries: DataFrame, data: DataFrame, k: int,
                 label_col: str, **knn_kwargs) -> DataFrame:
    """Spatial kNN classification / geo-imputation: each query point
    takes the MAJORITY label among its k nearest data points — assign
    a region/market/landuse class to an unlabeled location from its
    labeled neighbors (the supervised companion of :func:`knn_join`;
    reference analog: the KNearestNeighborSearchProcess feeding a
    client-side vote).

    Scale shape: knn_join's expanding-radius candidate machinery does
    all the heavy lifting; the vote adds one combining (query, label)
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
