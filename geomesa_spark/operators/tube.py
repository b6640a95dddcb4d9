"""Tube select: spatio-temporal join along a moving track.

The reference TubeSelectProcess (geomesa-process/.../tube/
TubeSelectProcess.scala:33+, TubeBuilder.scala) finds data features that
fall within a spatial buffer AND a time window of any point of an input
track. Re-expressed:

- track side (small) explodes to (cell, time-bucket) keys: Z2 cells
  covering each track point's buffer disk x the three adjacent
  time buckets (bucket width = the time window, so any |dt| <= window
  pair shares a bucket key),
- data side gets its single (cell, bucket) key — pure JVM expressions,
- broadcast equi-join on both keys, exact vectorized refine
  (haversine distance + |dt|), dedupe on the data id (a data point
  matching several track points reports once).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from ..geom.measures import EARTH_MEAN_RADIUS_M

from .spatial_join import (
    DEFAULT_LEVEL, cells_of_disk_arrays, sphere_expand_degrees, with_point_cell,
)

__all__ = ["tube_select"]


def tube_select(
    track: DataFrame,
    data: DataFrame,
    meters: float,
    window_s: int,
    tx: str = "lon", ty: str = "lat", tts: str = "secs",
    dx: str = "lon", dy: str = "lat", dts: str = "secs",
    data_id: str = "event_id",
    level: int = DEFAULT_LEVEL,
) -> DataFrame:
    """Data rows within ``meters`` and ``window_s`` of any track point.

    ``tts``/``dts`` are epoch-second long columns. Returns the distinct
    matching data rows (all data columns).
    """

    @F.pandas_udf(ArrayType(LongType()))
    def tube_cells(x: pd.Series, y: pd.Series) -> pd.Series:
        xs = x.to_numpy(np.float64)
        ys = y.to_numpy(np.float64)
        rlon, rlat = sphere_expand_degrees(ys, meters)
        return pd.Series(cells_of_disk_arrays(xs, ys, rlon, rlat, level),
                         dtype=object)

    bucket_d = F.floor(F.col(dts) / F.lit(int(window_s)))
    t = (track.withColumn("__cell__", F.explode(tube_cells(F.col(tx), F.col(ty))))
              .withColumn("__bucket__", F.explode(F.array(
                  F.floor(F.col(tts) / F.lit(int(window_s))) - 1,
                  F.floor(F.col(tts) / F.lit(int(window_s))),
                  F.floor(F.col(tts) / F.lit(int(window_s))) + 1)))
              .select(F.col(tx).alias("__tx__"), F.col(ty).alias("__ty__"),
                      F.col(tts).alias("__tts__"), "__cell__", "__bucket__"))

    d = with_point_cell(data, dx, dy, level).withColumn("__bucket__", bucket_d)

    cand = d.join(F.broadcast(t), on=["__cell__", "__bucket__"], how="inner")

    la1, la2 = F.radians(F.col(dy)), F.radians(F.col("__ty__"))
    sd = F.sin((la2 - la1) / 2)
    sl = F.sin((F.radians(F.col("__tx__")) - F.radians(F.col(dx))) / 2)
    a = sd * sd + F.cos(la1) * F.cos(la2) * sl * sl
    dist = F.lit(2.0 * EARTH_MEAN_RADIUS_M) * F.asin(F.sqrt(a))
    dt_ok = F.abs(F.col(dts) - F.col("__tts__")) <= window_s

    hits = cand.filter((dist <= meters) & dt_ok)  # inclusive, DWITHIN convention
    return (hits.dropDuplicates([data_id])
                .drop("__tx__", "__ty__", "__tts__", "__cell__", "__bucket__"))
