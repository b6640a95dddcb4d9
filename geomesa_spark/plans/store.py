"""Cell-partitioned parquet store + bbox query planner — the engine index.

The storage model of the reference FSDS/Iceberg path re-expressed for
native Spark (SURVEY.md §1.3 / §3.3):

- each point row gets ``z2_hex`` = Z2SFC.hexEncode(z) (hex of z << 2,
  16 digits, lexicographic == numeric order; Z2SFC.scala:59-81) and a
  partition column ``z2_p`` = first ``digits`` hex chars (the Iceberg
  ``truncate(z2_hex, digits)`` partition spec, Z2Scheme.scala:48-51),
- the directory layout is hive-partitioned parquet on ``z2_p`` —
  manifest pruning becomes Spark partition pruning, parquet row-group
  stats on lon/lat do the intra-partition skip,
- a bbox query plans driver-side: the window's covering partition
  prefixes in closed form (a d-hex-digit z prefix is an axis-aligned
  box, so the cover is the interleave of the window's per-dimension
  prefix ranges) -> ``z2_p IN (...)`` + lon/lat range predicates. The
  scan shows both PartitionFilters and PushedFilters in .explain —
  nothing is read outside the covering cells,
- queries open the store through :func:`open_store`, which reuses the
  DataFrame (and with it Spark's partition discovery) while the store's
  files are unchanged.

At 10^12 rows only the partition count changes (digits knob: 16^d
partitions); the prefix cover is exact, so it needs no range budget.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

from ..curves.norm import normalized_lat, normalized_lon
from ..curves.sfc import Z2SFC
from ..curves.zorder import z2_encode, z3_encode
# not called here; perfbench/tracing.py wraps these names on this module
from ..curves.zranges import z2_ranges, z3_ranges  # noqa: F401

__all__ = ["open_store", "write_indexed", "read_indexed", "bbox_query",
           "bbox_partition_prefixes",
           "query_store", "write_indexed_xz2", "bbox_query_xz2",
           "xz2_partition_prefixes", "write_indexed_z3", "stbox_query_z3",
           "z3_partition_prefixes", "write_indexed_xz3", "stbox_query_xz3",
           "xz3_partition_prefixes", "write_indexed_s2", "bbox_query_s2",
           "s2_partition_prefixes", "write_indexed_s3", "stbox_query_s3",
           "write_indexed_attr", "attr_query", "compact_store"]

_LON = normalized_lon(31)
_LAT = normalized_lat(31)
_SFC = Z2SFC()


def z2_hex_udf():
    """pandas UDF: (lon, lat) -> 16-char z2 hex key (Z2SFC.hexEncode)."""

    @F.pandas_udf(StringType())
    def enc(x: pd.Series, y: pd.Series) -> pd.Series:
        z = _SFC.index(x.to_numpy(np.float64), y.to_numpy(np.float64), lenient=True)
        return pd.Series(_SFC.hex_encode(z))

    return enc


def z2_keyed(df: DataFrame, x: str = "lon", y: str = "lat",
             digits: int = 2) -> DataFrame:
    """Attach THE store key columns (z2_hex + z2_p hive partition) —
    the single definition of the store layout, shared by the batch
    writer below and streaming/ingest.stream_ingest_indexed so the two
    write paths can never drift."""
    enc = z2_hex_udf()
    return (df.withColumn("z2_hex", enc(F.col(x), F.col(y)))
              .withColumn("z2_p", F.substring("z2_hex", 1, digits)))


def write_indexed(df: DataFrame, path: str, x: str = "lon", y: str = "lat",
                  digits: int = 2) -> None:
    """Write a point DataFrame as a z2-partitioned parquet store.

    digits=2 -> up to 256 partitions (bits = 4*digits of z-prefix).
    """
    z2_keyed(df, x, y, digits).write.mode("overwrite") \
        .partitionBy("z2_p").parquet(path)


# (session, absolute path) -> (file listing, DataFrame), least recently
# used first; bounded so a process that opens many stores keeps only the
# recent ones alive
_OPENED: OrderedDict = OrderedDict()
_OPENED_MAX = 64
_OPENED_LOCK = threading.Lock()


def _listing(root: str) -> tuple:
    """Sorted (relative path, size, mtime_ns) of every file under ``root``:
    the facts Spark's file index caches for a store."""
    out = []
    for d, _, files in os.walk(root):
        rel = os.path.relpath(d, root)
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except FileNotFoundError:  # removed while walking
                continue
            out.append((os.path.join(rel, f), st.st_size, st.st_mtime_ns))
    out.sort()
    return tuple(out)


def open_store(spark, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reused while the store is unchanged.

    Opening a store lists it and discovers its partitions (a Spark job
    on a many-partition store), which costs more than a pruned query's
    scan. The DataFrame of the last open of the same local directory in
    the same session is returned again as long as a driver-side listing
    of its files (relative path, size, mtime_ns) has not changed; any
    write, published file or compaction changes the listing, so the next
    open reads the store afresh. A path that is not a local directory is
    always read afresh.
    """
    root = os.path.abspath(path)
    if not os.path.isdir(root):
        return spark.read.parquet(path)
    key = (spark, root)
    listing = _listing(root)
    with _OPENED_LOCK:
        hit = _OPENED.get(key)
        if hit is not None and hit[0] == listing:
            _OPENED.move_to_end(key)
            return hit[1]
    df = spark.read.parquet(path)
    with _OPENED_LOCK:
        _OPENED[key] = (listing, df)
        _OPENED.move_to_end(key)
        while len(_OPENED) > _OPENED_MAX:
            _OPENED.popitem(last=False)
    return df


def read_indexed(spark, path: str) -> DataFrame:
    return open_store(spark, path)


def _prefix_cover(encode, bits: int, lows, highs, keep, shift: int,
                  digits: int) -> list[str]:
    """Covering ``digits``-hex-char prefixes of a Morton-coded window.

    A prefix fixes the top ``keep[i]`` of the ``bits`` bits of dimension
    i, so it is an axis-aligned box, and the prefixes meeting the window
    [lows, highs] are exactly the interleaves of each dimension's prefix
    range. ``encode`` interleaves full-width values; a prefix is the code
    shifted right by ``shift``.
    """
    axes = [np.arange(lo >> (bits - k), (hi >> (bits - k)) + 1,
                      dtype=np.int64) << (bits - k)
            for lo, hi, k in zip(lows, highs, keep)]
    grid = np.meshgrid(*axes, indexing="ij")
    codes = encode(*(g.ravel() for g in grid)).astype(np.uint64) >> np.uint64(shift)
    return [format(int(c), f"0{digits}x") for c in np.sort(codes)]


def _clamp(v, lo, hi):
    """Clamp a window bound into the world, as the lenient store keys
    clamp rows: a window wholly outside the world covers the edge cells
    its clamped rows are keyed to."""
    return min(max(v, lo), hi)


def _check_digits(digits: int) -> None:
    if not 1 <= digits <= 15:
        raise ValueError(f"digits must be in [1, 15], got {digits}")


def bbox_partition_prefixes(xmin: float, ymin: float, xmax: float, ymax: float,
                            digits: int) -> list[str]:
    """Driver-side planning: bbox -> covering z2_p partition prefixes.

    Normalizes the window and returns, in closed form, every
    ``digits``-char hex prefix whose cell meets it. The hex key is
    (z << 2), so a prefix fixes the top 2*digits bits of x and of y.
    """
    if xmin > xmax or ymin > ymax:
        raise ValueError(
            f"inverted bbox ({xmin},{ymin},{xmax},{ymax}); split "
            "dateline-crossing windows before planning")
    _check_digits(digits)
    nx0, nx1 = (int(_LON.normalize(_clamp(v, -180.0, 180.0))) for v in (xmin, xmax))
    ny0, ny1 = (int(_LAT.normalize(_clamp(v, -90.0, 90.0))) for v in (ymin, ymax))
    return _prefix_cover(z2_encode, 31, (nx0, ny0), (nx1, ny1),
                         (2 * digits, 2 * digits), 62 - 4 * digits, digits)


def bbox_query(spark, path: str, xmin: float, ymin: float, xmax: float,
               ymax: float, digits: int = 2, loose: bool = False,
               x: str = "lon", y: str = "lat") -> DataFrame:
    """Planned bbox scan: partition pruning + pushed range predicates.

    ``x``/``y`` must name the same columns the store was written with
    (write_indexed's x/y). loose=True skips nothing here (bbox is exact
    for points) — the flag mirrors the reference's loose-bbox semantics
    for parity.
    """
    df = open_store(spark, path)
    prefixes = bbox_partition_prefixes(xmin, ymin, xmax, ymax, digits)
    cond = F.col("z2_p").isin(prefixes)
    exact = ((F.col(x) >= xmin) & (F.col(x) <= xmax)
             & (F.col(y) >= ymin) & (F.col(y) <= ymax))
    return df.filter(cond & exact)


def plan_query(spark, path: str, cql: str, digits: int = 2,
               x: str = "lon", y: str = "lat",
               require_bounded: bool = False):
    """The QueryRunner/StrategyDecider analog: ECQL in, (DataFrame, plan
    dict) out.

    Strategy selection (StrategyDecider.scala:101-152 shape, cost = the
    covered-partition fraction instead of sketch-backed cardinality):

    - ``empty``           provably-disjoint filter -> empty scan
                          (Z2IndexKeySpace.scala:86-89 short-circuit)
    - ``z2-index``        bounded spatial predicate covering < 3/4 of the
                          partitions -> prefix pruning + window ranges +
                          residual compiled filter
    - ``full-scan``       unbounded (attribute-only / NOT / whole-world
                          spatial, FilterHelper.scala:44-67) or
                          unselective -> scan + residual; attribute
                          pushdown is Catalyst's
    """
    from ..functions.cql import cql_filter, extract_bounds

    df = open_store(spark, path)
    windows = extract_bounds(cql, "geom")
    plan = {"strategy": "full-scan", "windows": windows, "prefixes": None}
    if require_bounded and windows is None:
        # the reference's query guards (planning/guard/TemporalQueryGuard
        # .scala and friends) reject runaway full scans on huge stores
        raise ValueError(
            "query guard: filter has no spatial bound (full scan rejected); "
            f"pass require_bounded=False to allow: {cql!r}")
    if windows is not None:
        if not windows:
            plan["strategy"] = "empty"
            return df.filter(F.lit(False)), plan
        prefixes: set[str] = set()
        cond = None
        for (x0, y0, x1, y1) in windows:
            prefixes.update(bbox_partition_prefixes(x0, y0, x1, y1, digits))
            w = ((F.col(x) >= x0) & (F.col(x) <= x1)
                 & (F.col(y) >= y0) & (F.col(y) <= y1))
            cond = w if cond is None else (cond | w)
        if len(prefixes) < (16 ** digits) * 3 // 4:
            plan["strategy"] = "z2-index"
            plan["prefixes"] = len(prefixes)
            df = df.filter(F.col("z2_p").isin(sorted(prefixes)) & cond)
        # else: covering nearly everything — pruning would only add a
        # partition-filter cost; fall through to full-scan + residual
    df = df.withColumn("geom", F.expr(f"st_makePoint({x}, {y})"))
    return cql_filter(df, cql).drop("geom"), plan


def query_store(spark, path: str, cql: str, digits: int = 2,
                x: str = "lon", y: str = "lat") -> DataFrame:
    """The DataStore.getFeatureReader(query) analog: ECQL string in,
    planned scan out (see :func:`plan_query` for the strategy logic)."""
    df, _ = plan_query(spark, path, cql, digits, x, y)
    return df


# ---------------------------------------------------------------------------
# XZ2 store: extended geometries (the reference's XZ2Scheme /
# BoundingBoxField sidecar columns, SURVEY.md §1.3)

from ..curves.xz2 import XZ2SFC  # noqa: E402

_XZ2 = XZ2SFC()


def _envelope_cols_udf():
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..geom.wkb import wkb_read

    schema = StructType([StructField(c, DoubleType()) for c in
                         ("bx0", "by0", "bx1", "by1")])

    @F.pandas_udf(schema)
    def env(s: pd.Series) -> pd.DataFrame:
        rows = []
        for v in s:
            if v is None:
                rows.append((None,) * 4)
            else:
                rows.append(wkb_read(bytes(v)).envelope())
        return pd.DataFrame(rows, columns=["bx0", "by0", "bx1", "by1"])

    return env


def xz2_hex_udf():
    """pandas UDF: envelope -> XZ2 hex key (XZ2Function / ZValueField)."""

    @F.pandas_udf(StringType())
    def enc(x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series) -> pd.Series:
        z = _XZ2.index(x0.to_numpy(np.float64), y0.to_numpy(np.float64),
                       x1.to_numpy(np.float64), y1.to_numpy(np.float64),
                       lenient=True)
        return pd.Series(_XZ2.hex_encode(z))

    return enc


def write_indexed_xz2(df: DataFrame, path: str, geom: str = "geom",
                      digits: int = 2) -> None:
    """Write an extended-geometry DataFrame as an xz2-partitioned store.

    Adds the reference's sidecar columns: ``bx0..by1`` envelope doubles
    (BoundingBoxField.scala:22-70 — row-group pruning surface),
    ``xz2_hex`` (ZValueField) and the ``xz2_p`` partition prefix
    (XZ2Scheme truncate spec).
    """
    env = _envelope_cols_udf()
    enc = xz2_hex_udf()
    out = (df.withColumn("__e__", env(F.col(geom)))
             .select("*", "__e__.bx0", "__e__.by0", "__e__.bx1", "__e__.by1")
             .drop("__e__")
             .withColumn("xz2_hex", enc("bx0", "by0", "bx1", "by1"))
             .withColumn("xz2_p", F.substring("xz2_hex", 1, digits)))
    out.write.mode("overwrite").partitionBy("xz2_p").parquet(path)


def xz2_partition_prefixes(xmin: float, ymin: float, xmax: float, ymax: float,
                           digits: int, max_ranges: int = 2000) -> list[str]:
    """bbox window -> covering xz2_p prefixes via the XZ2 range planner
    (XZ2SFC.ranges BFS port — a range's cells contain every geometry
    whose sequence code falls inside it, so the prefix union is a true
    superset of matching rows)."""
    ranges = _XZ2.ranges([(max(xmin, -180.0), max(ymin, -90.0),
                           min(xmax, 180.0), min(ymax, 90.0))],
                         max_ranges=max_ranges)
    shift = 4 * (_XZ2.hex_digits - digits)
    off = _XZ2.hex_bit_offset
    total = 16 ** digits
    prefixes: set[str] = set()
    for lo, hi, _ in ranges:
        for p in range((lo << off) >> shift, ((hi << off) >> shift) + 1):
            prefixes.add(format(p, f"0{digits}x"))
        if len(prefixes) >= total:
            break
    return sorted(prefixes)


def bbox_query_xz2(spark, path: str, xmin: float, ymin: float, xmax: float,
                   ymax: float, digits: int = 2) -> DataFrame:
    """Planned bbox scan over the xz2 store: partition pruning + envelope
    sidecar range predicates (pushed to parquet row groups). Returns rows
    whose envelope intersects the window; exact geometry refine is the
    caller's predicate (the reference's residual-CQL split)."""
    df = open_store(spark, path)
    prefixes = xz2_partition_prefixes(xmin, ymin, xmax, ymax, digits)
    overlap = ((F.col("bx0") <= xmax) & (F.col("bx1") >= xmin)
               & (F.col("by0") <= ymax) & (F.col("by1") >= ymin))
    return df.filter(F.col("xz2_p").isin(prefixes) & overlap)


# ---------------------------------------------------------------------------
# Z3 store: spatio-temporal points (the reference's DEFAULT index for
# point data with time — Z3IndexKeySpace [shard][bin:2][z:8] re-expressed
# as (z3_bin, z3_p) hive partitions; per-bin interval decomposition per
# Z3IndexKeySpace.scala:132-158)

from ..curves.binnedtime import MAX_OFFSET  # noqa: E402
from ..curves.sfc import Z3SFC  # noqa: E402

_Z3 = Z3SFC("week")
_WEEK_S = 604_800


def z3_key_udf():
    """pandas UDF: (lon, lat, epoch-secs) -> struct(bin int, z3_hex string).

    The hex key is (z << 1) as 16 chars so lexicographic prefix order ==
    numeric order over the 63-bit z (the Z2SFC.hexEncode trick applied
    to Z3's bit width).
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType([StructField("bin", IntegerType()),
                         StructField("z3_hex", StringType())])

    @F.pandas_udf(schema)
    def enc(x: pd.Series, y: pd.Series, secs: pd.Series) -> pd.DataFrame:
        bins, z = _Z3.index_millis(x.to_numpy(np.float64), y.to_numpy(np.float64),
                                   secs.to_numpy(np.int64) * 1000, lenient=True)
        shifted = np.asarray(z, dtype=np.uint64) << np.uint64(1)
        return pd.DataFrame({"bin": bins.astype(np.int32),
                             "z3_hex": [format(int(v), "016x") for v in shifted]})

    return enc


def write_indexed_z3(df: DataFrame, path: str, x: str = "lon", y: str = "lat",
                     secs: str = "secs", digits: int = 2) -> None:
    """Write a spatio-temporal point DataFrame as a (z3_bin, z3_p)
    partitioned store. ``secs`` is epoch seconds (long)."""
    enc = z3_key_udf()
    out = (df.withColumn("__k__", enc(F.col(x), F.col(y), F.col(secs)))
             .select("*", "__k__.bin", "__k__.z3_hex").drop("__k__")
             .withColumnRenamed("bin", "z3_bin")
             .withColumn("z3_p", F.substring("z3_hex", 1, digits)))
    out.write.mode("overwrite").partitionBy("z3_bin", "z3_p").parquet(path)


def z3_partition_prefixes(xmin: float, ymin: float, xmax: float, ymax: float,
                          off0: int, off1: int, digits: int) -> list[str]:
    """Covering z3_p prefixes for a bbox x within-bin offset window
    [off0, off1] (inclusive, seconds), in closed form. The hex key is
    (z << 1) with t, y, x interleaved from the top, so a 4*digits-bit
    prefix fixes L+(r>=1) bits of t, L+(r>=2) of y and L of x, where
    L, r = divmod(4*digits, 3)."""
    _check_digits(digits)
    nx0, nx1 = (int(_Z3.lon.normalize(_clamp(v, -180.0, 180.0))) for v in (xmin, xmax))
    ny0, ny1 = (int(_Z3.lat.normalize(_clamp(v, -90.0, 90.0))) for v in (ymin, ymax))
    nt0, nt1 = (int(_Z3.time.normalize(float(_clamp(v, 0, MAX_OFFSET["week"]))))
                for v in (off0, off1))
    lead, rem = divmod(4 * digits, 3)
    keep = (lead, lead + (rem >= 2), lead + (rem >= 1))
    return _prefix_cover(z3_encode, 21, (nx0, ny0, nt0), (nx1, ny1, nt1),
                         keep, 63 - 4 * digits, digits)


def stbox_query_z3(spark, path: str, xmin: float, ymin: float, xmax: float,
                   ymax: float, t0: int, t1: int, digits: int = 2,
                   x: str = "lon", y: str = "lat", secs: str = "secs") -> DataFrame:
    """Planned spatio-temporal box scan: per-bin interval decomposition
    -> (z3_bin, z3_p) partition pruning -> pushed range predicates.

    [t0, t1) in epoch seconds. Boundary bins get their partial offset
    windows; interior bins share the full-offset prefix set (computed
    once) — exactly the reference's per-bin range fan-out.
    """
    df = open_store(spark, path)
    if t1 <= t0:  # empty half-open interval: nothing can match
        return df.filter(F.lit(False))
    b0, b1 = t0 // _WEEK_S, (t1 - 1) // _WEEK_S
    full: list[str] | None = None
    cond = None
    for b in range(b0, b1 + 1):
        off0 = max(t0 - b * _WEEK_S, 0)
        off1 = min(t1 - 1 - b * _WEEK_S, _WEEK_S - 1)
        if off0 == 0 and off1 == _WEEK_S - 1:
            if full is None:
                full = z3_partition_prefixes(xmin, ymin, xmax, ymax,
                                             0, _WEEK_S - 1, digits)
            pfx = full
        else:
            pfx = z3_partition_prefixes(xmin, ymin, xmax, ymax, off0, off1, digits)
        c = (F.col("z3_bin") == b) & F.col("z3_p").isin(pfx)
        cond = c if cond is None else (cond | c)
    exact = ((F.col(x) >= xmin) & (F.col(x) <= xmax)
             & (F.col(y) >= ymin) & (F.col(y) <= ymax)
             & (F.col(secs) >= t0) & (F.col(secs) < t1))
    return df.filter(cond & exact)


def age_off_query_z3(spark, path: str, ttl_s: int, now_s: int,
                     digits: int = 2, x: str = "lon", y: str = "lat",
                     secs: str = "secs") -> DataFrame:
    """Dtg age-off retention scan over a Z3 store: keep only features
    younger than ``ttl_s`` at the EXPLICIT reference time ``now_s``
    (half-open [now - ttl, now); explicit now keeps the scan
    deterministic across retries — the decayed_density convention).
    The reference applies age-off per-row at scan time
    (geomesa-index-api .../index/filters/DtgAgeOffFilter.scala,
    AgeOffFilter.scala); a store partitioned by Z3 (bin, prefix) gets
    the same semantics with whole EXPIRED WEEKS dropped at the
    partition level — the scan never opens files older than the
    retention horizon, which is the 100 TB point of age-off.
    Implemented as the whole-world stbox scan, so the per-bin interval
    decomposition and pushed time predicates are shared, tested code.
    """
    return stbox_query_z3(spark, path, -180.0, -90.0, 180.0, 90.0,
                          int(now_s) - int(ttl_s), int(now_s),
                          digits=digits, x=x, y=y, secs=secs)


# ---------------------------------------------------------------------------
# XZ3 store: extended geometries + time (XZ3IndexKeySpace
# [shard][bin:2][xz3] -> (xz3_bin, xz3_p) partitions; instant-dtg
# features, the reference's common case)

from ..curves.xz3 import XZ3SFC  # noqa: E402

_XZ3 = XZ3SFC(12, "week")
_XZ3_MAXZ = (8 ** 13 - 1) // 7
_XZ3_NLZ = 64 - _XZ3_MAXZ.bit_length()
_XZ3_OFF = _XZ3_NLZ % 4
_XZ3_DIGITS = (64 - _XZ3_NLZ) // 4 + (0 if _XZ3_OFF == 0 else 1)


def xz3_key_udf():
    """pandas UDF: (envelope, epoch-secs) -> struct(bin int, xz3_hex)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType([StructField("bin", IntegerType()),
                         StructField("xz3_hex", StringType())])

    @F.pandas_udf(schema)
    def enc(x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series,
            secs: pd.Series) -> pd.DataFrame:
        bins = (secs.to_numpy(np.int64) // _WEEK_S).astype(np.int32)
        off = (secs.to_numpy(np.int64) % _WEEK_S).astype(np.float64)
        z = _XZ3.index(x0.to_numpy(np.float64), y0.to_numpy(np.float64), off,
                       x1.to_numpy(np.float64), y1.to_numpy(np.float64), off,
                       lenient=True)
        shifted = np.asarray(z, dtype=np.uint64) << np.uint64(_XZ3_OFF)
        fmt = f"0{_XZ3_DIGITS}x"
        return pd.DataFrame({"bin": bins,
                             "xz3_hex": [format(int(v), fmt) for v in shifted]})

    return enc


def write_indexed_xz3(df: DataFrame, path: str, geom: str = "geom",
                      secs: str = "secs", digits: int = 2) -> None:
    """Extended geometries with an instant dtg -> (xz3_bin, xz3_p) store
    with envelope sidecar columns."""
    env = _envelope_cols_udf()
    enc = xz3_key_udf()
    out = (df.withColumn("__e__", env(F.col(geom)))
             .select("*", "__e__.bx0", "__e__.by0", "__e__.bx1", "__e__.by1")
             .drop("__e__")
             .withColumn("__k__", enc("bx0", "by0", "bx1", "by1", F.col(secs)))
             .select("*", "__k__.bin", "__k__.xz3_hex").drop("__k__")
             .withColumnRenamed("bin", "xz3_bin")
             .withColumn("xz3_p", F.substring("xz3_hex", 1, digits)))
    out.write.mode("overwrite").partitionBy("xz3_bin", "xz3_p").parquet(path)


def xz3_partition_prefixes(xmin: float, ymin: float, xmax: float, ymax: float,
                           off0: int, off1: int, digits: int,
                           max_ranges: int = 2000) -> list[str]:
    ranges = _XZ3.ranges([(max(xmin, -180.0), max(ymin, -90.0), float(max(off0, 0)),
                           min(xmax, 180.0), min(ymax, 90.0),
                           float(min(off1, MAX_OFFSET["week"])))],
                         max_ranges=max_ranges)
    shift = 4 * (_XZ3_DIGITS - digits)
    total = 16 ** digits
    prefixes: set[str] = set()
    for lo, hi, _ in ranges:
        for p in range((lo << _XZ3_OFF) >> shift, ((hi << _XZ3_OFF) >> shift) + 1):
            prefixes.add(format(p, f"0{digits}x"))
        if len(prefixes) >= total:
            break
    return sorted(prefixes)


def stbox_query_xz3(spark, path: str, xmin: float, ymin: float, xmax: float,
                    ymax: float, t0: int, t1: int, digits: int = 2,
                    secs: str = "secs") -> DataFrame:
    """Planned spatio-temporal box scan over the xz3 store: per-bin
    prefix pruning + envelope/interval sidecar predicates. Returns rows
    whose ENVELOPE intersects the box and dtg in [t0, t1); exact geometry
    refine is the caller's residual predicate."""
    df = open_store(spark, path)
    if t1 <= t0:  # empty half-open interval: nothing can match
        return df.filter(F.lit(False))
    b0, b1 = t0 // _WEEK_S, (t1 - 1) // _WEEK_S
    full: list[str] | None = None
    cond = None
    for b in range(b0, b1 + 1):
        off0 = max(t0 - b * _WEEK_S, 0)
        off1 = min(t1 - 1 - b * _WEEK_S, _WEEK_S - 1)
        if off0 == 0 and off1 == _WEEK_S - 1:
            if full is None:
                full = xz3_partition_prefixes(xmin, ymin, xmax, ymax,
                                              0, _WEEK_S - 1, digits)
            pfx = full
        else:
            pfx = xz3_partition_prefixes(xmin, ymin, xmax, ymax, off0, off1, digits)
        c = (F.col("xz3_bin") == b) & F.col("xz3_p").isin(pfx)
        cond = c if cond is None else (cond | c)
    exact = ((F.col("bx0") <= xmax) & (F.col("bx1") >= xmin)
             & (F.col("by0") <= ymax) & (F.col("by1") >= ymin)
             & (F.col(secs) >= t0) & (F.col(secs) < t1))
    return df.filter(cond & exact)


# ---------------------------------------------------------------------------
# S2 store: cube-face Hilbert cells (S2IndexKeySpace semantics —
# geomesa-index-api .../index/s2/S2IndexKeySpace.scala keys by the S2
# cell id; query coverings via the S2RegionCoverer analog in curves/s2)

from ..curves.s2 import MAX_LEVEL as _S2_MAX_LEVEL  # noqa: E402
from ..curves.s2 import cell_id_from_lonlat, region_coverer, s2_ranges  # noqa: E402


def s2_hex_udf():
    """pandas UDF: (lon, lat) -> 16-char hex of the UNSIGNED level-30 S2
    cell id (lexicographic == unsigned numeric order)."""

    @F.pandas_udf(StringType())
    def enc(x: pd.Series, y: pd.Series) -> pd.Series:
        ids = cell_id_from_lonlat(x.to_numpy(np.float64),
                                  y.to_numpy(np.float64),
                                  _S2_MAX_LEVEL).astype(np.uint64)
        return pd.Series([format(int(v), "016x") for v in ids])

    return enc


def write_indexed_s2(df: DataFrame, path: str, x: str = "lon", y: str = "lat",
                     digits: int = 2) -> None:
    """Point DataFrame -> S2-cell-partitioned parquet store (s2_p = first
    ``digits`` hex chars of the cell id; top digit encodes the cube face)."""
    enc = s2_hex_udf()
    out = (df.withColumn("s2_hex", enc(F.col(x), F.col(y)))
             .withColumn("s2_p", F.substring("s2_hex", 1, digits)))
    out.write.mode("overwrite").partitionBy("s2_p").parquet(path)


def s2_partition_prefixes(xmin: float, ymin: float, xmax: float, ymax: float,
                          digits: int, max_cells: int = 64) -> list[str]:
    """Driver-side planning: bbox -> S2 covering -> distinct ``digits``-char
    hex partition prefixes of the covering id ranges."""
    if xmin > xmax or ymin > ymax:
        raise ValueError(
            f"inverted bbox ({xmin},{ymin},{xmax},{ymax}); split "
            "dateline-crossing windows before planning")
    ranges = s2_ranges(region_coverer(xmin, ymin, xmax, ymax,
                                      max_cells=max_cells))
    shift = 64 - 4 * digits
    total = 16 ** digits
    prefixes: set[str] = set()
    for lo, hi in ranges:
        for p in range(lo >> shift, (hi >> shift) + 1):
            prefixes.add(format(p, f"0{digits}x"))
        if len(prefixes) >= total:
            break
    return sorted(prefixes)


def bbox_query_s2(spark, path: str, xmin: float, ymin: float, xmax: float,
                  ymax: float, digits: int = 2,
                  x: str = "lon", y: str = "lat") -> DataFrame:
    """Planned bbox scan over the s2 store: covering-prefix partition
    pruning + exact pushed coordinate range predicates. ``x``/``y`` must
    name the same columns the store was written with."""
    df = open_store(spark, path)
    prefixes = s2_partition_prefixes(xmin, ymin, xmax, ymax, digits)
    cond = F.col("s2_p").isin(prefixes)
    exact = ((F.col(x) >= xmin) & (F.col(x) <= xmax)
             & (F.col(y) >= ymin) & (F.col(y) <= ymax))
    return df.filter(cond & exact)


# ---------------------------------------------------------------------------
# S3 store: S2 cell + time bin (S3IndexKeySpace semantics — the reference
# keys points by (bin: Short, s2CellId: Long, timeOffset: Int);
# geomesa-index-api .../index/s3/S3IndexKeySpace.scala:97-131 toIndexKey,
# .../index/s3/package.scala:19 S3IndexKey. Unlike Z3, time is NOT
# interleaved with space — the cell id precedes the offset — so pruning
# is bin-range x S2-covering-prefix and the within-bin offset window is
# a pushed residual predicate, exactly the reference's BoundedRange
# (S3IndexKey(bin, s.lower, t0), S3IndexKey(bin, s.upper, t1)) fan-out
# at S3IndexKeySpace.scala:227.)


def write_indexed_s3(df: DataFrame, path: str, x: str = "lon", y: str = "lat",
                     secs: str = "secs", digits: int = 2) -> None:
    """Spatio-temporal point DataFrame -> (s3_bin, s3_p) partitioned
    store: week bin + first ``digits`` hex chars of the level-30 S2 cell
    id. ``secs`` is epoch seconds (long)."""
    enc = s2_hex_udf()
    out = (df.withColumn("s2_hex", enc(F.col(x), F.col(y)))
             .withColumn("s3_bin", F.floor(F.col(secs) / F.lit(_WEEK_S)).cast("int"))
             .withColumn("s3_p", F.substring("s2_hex", 1, digits)))
    out.write.mode("overwrite").partitionBy("s3_bin", "s3_p").parquet(path)


def stbox_query_s3(spark, path: str, xmin: float, ymin: float, xmax: float,
                   ymax: float, t0: int, t1: int, digits: int = 2,
                   x: str = "lon", y: str = "lat", secs: str = "secs") -> DataFrame:
    """Planned spatio-temporal box scan over the s3 store: bin-range x
    S2-covering-prefix partition pruning + exact pushed lon/lat/secs
    range predicates. [t0, t1) in epoch seconds.

    The spatial prefix set is time-independent (the S3 key orders cell
    before offset), so one covering serves every bin — the per-bin work
    the Z3 planner must do disappears here by key design.
    """
    df = open_store(spark, path)
    if t1 <= t0:  # empty half-open interval: nothing can match
        return df.filter(F.lit(False))
    prefixes = s2_partition_prefixes(xmin, ymin, xmax, ymax, digits)
    b0, b1 = t0 // _WEEK_S, (t1 - 1) // _WEEK_S
    cond = (F.col("s3_bin").between(b0, b1) & F.col("s3_p").isin(prefixes))
    exact = ((F.col(x) >= xmin) & (F.col(x) <= xmax)
             & (F.col(y) >= ymin) & (F.col(y) <= ymax)
             & (F.col(secs) >= t0) & (F.col(secs) < t1))
    return df.filter(cond & exact)


def write_indexed_attr(df: DataFrame, path: str, attr: str,
                       x: str = "lon", y: str = "lat",
                       digits: int = 1, max_buckets: int = 256) -> None:
    """Attribute index analog (the reference's AttributeIndex:
    attribute value as the key prefix with spatial Z tiering as the
    suffix — geomesa-index-api .../index/attribute/AttributeIndex.scala,
    sharding/tiering in AttributeIndexKeySpace): hive-partition by a
    bounded HASH BUCKET of the attribute (xxhash64 mod max_buckets, so
    a high-cardinality attribute can never explode the partition count
    — the reference shards attribute keys the same way), with a short
    z2 prefix as the secondary partition layer. An attr-equality query
    prunes to one bucket; a spatial filter prunes z2 prefixes within
    it; the exact attr/bbox predicates push down to the parquet scan.
    """
    enc = z2_hex_udf()
    bucket = F.pmod(F.xxhash64(F.col(attr)), F.lit(max_buckets))
    out = (df.withColumn("attr_b", bucket)
             .withColumn("z2_hex", enc(F.col(x), F.col(y)))
             .withColumn("z2_p", F.substring("z2_hex", 1, digits)))
    out.write.mode("overwrite").partitionBy("attr_b", "z2_p").parquet(path)


def attr_query(spark, path: str, attr: str, value,
               bbox: tuple | None = None, digits: int = 1,
               max_buckets: int = 256,
               x: str = "lon", y: str = "lat") -> DataFrame:
    """Planned attribute(+bbox) scan over a write_indexed_attr store:
    bucket pruning (one hive partition family per value) + optional z2
    prefix pruning + pushed exact predicates. digits/max_buckets must
    match the write."""
    df = open_store(spark, path)
    one = df.sparkSession.range(1).select(
        F.pmod(F.xxhash64(F.lit(value)), F.lit(max_buckets)).alias("b"))
    bucket = one.collect()[0]["b"]  # same JVM hash the writer used
    cond = (F.col("attr_b") == int(bucket)) & (F.col(attr) == F.lit(value))
    if bbox is not None:
        xmin, ymin, xmax, ymax = bbox
        prefixes = bbox_partition_prefixes(xmin, ymin, xmax, ymax, digits)
        cond = cond & F.col("z2_p").isin(prefixes) \
            & (F.col(x) >= xmin) & (F.col(x) <= xmax) \
            & (F.col(y) >= ymin) & (F.col(y) <= ymax)
    return df.filter(cond)


def compact_store(spark, path: str, partition_cols: list[str],
                  sort_by: list[str] | None = None) -> dict:
    """Bin-pack a partitioned store: rewrite every hive partition as ONE
    file, rows sorted by ``sort_by`` (the index key) so parquet
    row-group min/max stats become tight and intra-partition skipping
    works — the reference FSDS's compaction command
    (geomesa-fs/geomesa-fs-tools .../compact, FileSystemStorage
    compact()). Streaming/incremental ingest leaves many small files
    per partition; compaction is the maintenance op that restores scan
    efficiency.

    Atomic-by-rename like plans/checkpoint.py: the rewrite lands in
    ``<path>.compact-tmp`` and swaps into place only when complete, so
    a crash mid-compaction never corrupts the store. Returns
    ``{"files_before": n, "files_after": m, "rows": r}``.
    """
    import glob
    import os
    import shutil

    def _count_files(p):
        return len([f for f in glob.glob(os.path.join(p, "**", "*.parquet"),
                                         recursive=True)])

    df = spark.read.parquet(path)
    rows = df.count()
    before = _count_files(path)
    tmp = path + ".compact-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    out = df.repartition(*[F.col(c) for c in partition_cols])
    if sort_by:
        out = out.sortWithinPartitions(*partition_cols, *sort_by)
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    new_rows = spark.read.parquet(tmp).count()
    if new_rows != rows:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"compact_store: row count changed "
                           f"({rows} -> {new_rows}); aborted, store intact")
    old = path + ".compact-old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return {"files_before": before, "files_after": _count_files(path),
            "rows": rows}
