"""Density-based spatial clustering (DBSCAN) as DataFrame ops.

The reference ships density analytics (DensityProcess) and proximity
machinery (geomesa-process ProximitySearchProcess.scala:25, KNN process);
DBSCAN is the classic clustering operator built from exactly those
primitives — an eps-neighbor self-join plus connected components — and a
staple of large-scale GPS/check-in mining. Expressed Spark-first:

1. eps-neighbor pairs via the same Z2 cell-cover equi-join the dwithin
   join uses (operators/spatial_join.dwithin_join_points): the left side
   keeps its single point cell, the right side explodes to the cells
   covering its eps-disk, candidates equi-join on the cell, and the
   exact refine is a pure-JVM squared-distance comparison (no Python on
   the hot path). Shuffles carry (id, lon, lat) only.
2. core points = |neighbors| + 1 >= min_pts (the textbook rule, self
   included; distance compare is INCLUSIVE, dist <= eps).
3. clusters = connected components over core-core edges
   (operators/dedup.dedup_clusters: min-label + pointer jumping,
   O(log diameter) rounds, (id,label)-long shuffles). A core's cluster
   id is the min core id reachable through core-core chains; a core
   with no core neighbor forms its own singleton cluster.
4. border points (non-core with >= 1 core neighbor) join the MIN
   cluster id over their core neighbors — classic DBSCAN leaves border
   assignment scan-order-dependent; the min rule is the deterministic
   canonicalization (same convention as the dedup pipeline), making the
   result reproducible and oracle-checkable.
5. everything else is noise (cluster_id NULL, role 'noise').

Scale shape: candidate generation is the cell equi-join (never
all-pairs), the CC runs over core-core edges only (<< point count for
any eps below the percolation regime), and label assignment is id-keyed
joins — no driver collect anywhere. Hot cells (dense urban clusters)
behave like the dwithin join: AQE skew split applies, and `level`
should be chosen so a cell is O(eps) wide.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .dedup import dedup_clusters
from .cache import attach_cached as _attach_cached, release  # noqa: F401
from .spatial_join import (DEFAULT_LEVEL, with_point_cell,
                           cells_of_disk_arrays, sphere_expand_degrees)

__all__ = ["eps_neighbor_pairs", "dbscan", "release"]


def eps_neighbor_pairs(points: DataFrame, eps: float, id_col: str = "id",
                       x: str = "lon", y: str = "lat",
                       metric: str = "degrees",
                       level: int = DEFAULT_LEVEL) -> DataFrame:
    """All ordered pairs (id_a, id_b), a != b, with dist(a, b) <= eps
    (INCLUSIVE — the DBSCAN convention; dwithin_join_points is strict).

    metric 'degrees' = planar squared-distance compare (dx*dx + dy*dy
    <= eps*eps, bit-reproducible across engines); 'sphere' = haversine
    meters. Both sides of the self-join reuse the cell-cover prefilter.
    """
    @pandas_udf(ArrayType(LongType()))
    def cover_pt(xs: pd.Series, ys: pd.Series) -> pd.Series:
        xa = xs.to_numpy(np.float64)
        ya = ys.to_numpy(np.float64)
        if metric == "sphere":
            rlon, rlat = sphere_expand_degrees(ya, eps)
        else:
            rlon = rlat = np.full_like(xa, eps)
        return pd.Series(cells_of_disk_arrays(xa, ya, rlon, rlat, level),
                         dtype=object)

    pts = points.select(F.col(id_col).cast("long").alias("__id__"),
                        F.col(x).cast("double").alias("__x__"),
                        F.col(y).cast("double").alias("__y__"))
    l = with_point_cell(pts, "__x__", "__y__", level).select(
        F.col("__id__").alias("id_a"), F.col("__x__").alias("__ax__"),
        F.col("__y__").alias("__ay__"), "__cell__")
    r = pts.select(F.col("__id__").alias("id_b"),
                   F.col("__x__").alias("__bx__"),
                   F.col("__y__").alias("__by__"),
                   F.explode(cover_pt(F.col("__x__"), F.col("__y__")))
                    .alias("__cell__"))
    cand = (l.join(r, on="__cell__", how="inner")
             .filter(F.col("id_a") != F.col("id_b")))
    if metric == "sphere":
        # the registry's haversine shape (st_distanceSphere)
        rad = F.lit(np.pi / 180.0)
        dphi = (F.col("__by__") - F.col("__ay__")) * rad / 2
        dlam = (F.col("__bx__") - F.col("__ax__")) * rad / 2
        a = (F.sin(dphi) * F.sin(dphi)
             + F.cos(F.col("__ay__") * rad) * F.cos(F.col("__by__") * rad)
             * F.sin(dlam) * F.sin(dlam))
        dist = F.lit(2.0 * 6371008.8) * F.asin(F.sqrt(a))
        keep = dist <= F.lit(float(eps))
    else:
        dx = F.col("__ax__") - F.col("__bx__")
        dy = F.col("__ay__") - F.col("__by__")
        keep = (dx * dx + dy * dy) <= F.lit(float(eps) * float(eps))
    return cand.filter(keep).select("id_a", "id_b")


def dbscan(points: DataFrame, eps: float, min_pts: int,
           id_col: str = "id", x: str = "lon", y: str = "lat",
           metric: str = "degrees",
           level: int = DEFAULT_LEVEL) -> DataFrame:
    """DBSCAN (Ester et al., KDD'96) with deterministic labels.

    Returns one row per input point: (id_col, cluster_id, role) with
    role in {'core','border','noise'}; cluster_id = min core id of the
    point's component (NULL for noise). Persisted intermediates ride on
    the result — call ``release(result)`` when done in a long session.
    """
    pairs = eps_neighbor_pairs(points, eps, id_col=id_col, x=x, y=y,
                               metric=metric, level=level).persist()
    if int(min_pts) <= 1:
        # |N(p)| >= 1 always holds (p counts itself), so EVERY point is
        # core — including zero-neighbor isolates, which produce no
        # pairs row and would otherwise be mislabeled noise
        core = (points.select(F.col(id_col).cast("long").alias("__cid__"))
                      .persist())
    else:
        deg = pairs.groupBy("id_a").agg(F.count("*").alias("__nbrs__"))
        core = (deg.filter(F.col("__nbrs__") + 1 >= int(min_pts))
                   .select(F.col("id_a").alias("__cid__"))
                   .persist())
    # core-core edges only: the CC never sees border/noise rows
    cedges = (pairs
              .join(core.withColumnRenamed("__cid__", "id_a"), on="id_a",
                    how="left_semi")
              .join(core.withColumnRenamed("__cid__", "id_b"), on="id_b",
                    how="left_semi"))
    comp = dedup_clusters(cedges, "id_a", "id_b")
    # singleton cores (no core neighbor) label themselves
    core_lab = (core.join(comp.withColumnRenamed("id", "__cid__"),
                          on="__cid__", how="left")
                    .select(F.col("__cid__").alias("__id__"),
                            F.coalesce("cluster_id", "__cid__")
                             .alias("cluster_id"),
                            F.lit("core").alias("role")))
    # border: non-core with a core neighbor -> min cluster over them
    border = (pairs
              .join(core.withColumnRenamed("__cid__", "id_a"), on="id_a",
                    how="left_anti")
              .join(core_lab.select(F.col("__id__").alias("id_b"),
                                    "cluster_id"), on="id_b", how="inner")
              .groupBy("id_a").agg(F.min("cluster_id").alias("cluster_id"))
              .select(F.col("id_a").alias("__id__"), "cluster_id",
                      F.lit("border").alias("role")))
    lab = core_lab.unionByName(border)
    out = (points
           .join(lab.withColumnRenamed("__id__", id_col),
                 on=id_col, how="left")
           .withColumn("role", F.coalesce("role", F.lit("noise")))
           .select(id_col, "cluster_id", "role"))
    return _attach_cached(out, pairs, core,
                          *getattr(comp, "_geomesa_cached", []))
