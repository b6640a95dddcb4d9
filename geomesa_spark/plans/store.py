"""Curve-keyed, hive-partitioned parquet stores — the engine index.

The storage model of the reference FSDS/Iceberg path re-expressed for
native Spark (SURVEY.md §1.3 / §3.3). Every store layout is one
:class:`KeySpace` record of the :data:`KEYSPACES` table, the analog of
the reference's ``IndexKeySpace`` (Z3IndexKeySpace.scala:79-95): a
fixed-width hex curve key (lexicographic == numeric order,
Z2SFC.hexEncode), hive partitions on the week bin (Z3/XZ3/S3's [bin][z])
and on the key's first ``digits`` hex chars (the Iceberg
``truncate(hex, digits)`` spec, Z2Scheme.scala:48-51), a driver-side
prefix cover of a query window, and the exact residual (a point box, or
an envelope overlap on the ``bx0..by1`` sidecars of extended
geometries, BoundingBoxField.scala:22-70).

One write path (:func:`write_store`) and one scan path
(:func:`scan_store`) serve every keyspace: a scan is ``prefix IN
(cover)`` (per group of week bins sharing a within-bin window, for the
binned stores) plus the exact residual, so .explain shows both
PartitionFilters and PushedFilters and nothing is read outside the
covering cells. Queries open the store through :func:`open_store`,
which reuses the DataFrame (and with it Spark's partition discovery)
while the store's files are unchanged.

The prefix width is a property of the store, as in the reference's
partition scheme: writers take ``digits`` (default :data:`DIGITS`, one
hex char, 16 partitions per bin) and every reader takes the width from
the store's own partition directories (``digits=None``). A reader given
a width the store does not hold, or a store holding two widths, raises
ValueError rather than pruning on prefixes no directory has.

At 10^12 rows only the partition count changes (16^digits prefixes per
bin); the covers depend on the window, not on the data.
"""

from __future__ import annotations

import operator
import os
import threading
from collections import OrderedDict
from functools import reduce
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..curves import zexpr
from ..curves.binnedtime import MAX_OFFSET
from ..curves.s2 import MAX_LEVEL, cell_id_from_lonlat, region_coverer, s2_ranges
from ..curves.sfc import Z2SFC, Z3SFC
from ..curves.xz2 import XZ2SFC
from ..curves.xz3 import XZ3SFC
from ..curves.zorder import z2_encode, z3_encode
# not called here; perfbench/tracing.py wraps these names on this module
from ..curves.zranges import z2_ranges, z3_ranges  # noqa: F401

__all__ = ["DIGITS", "KeySpace", "KEYSPACES", "ATTR", "keyed", "write_store",
           "scan_store", "bin_windows", "residual", "open_store",
           "prefix_digits",
           "write_indexed", "read_indexed", "bbox_query", "z2_keyed",
           "plan_query", "query_store", "write_indexed_xz2",
           "bbox_query_xz2", "write_indexed_z3", "stbox_query_z3",
           "write_indexed_attr", "attr_query",
           "compact_store"]

_SFC = Z2SFC()
_Z3 = Z3SFC("week")
_XZ2 = XZ2SFC()
_XZ3 = XZ3SFC(12, "week")
_XZ3_MAXZ = (8 ** 13 - 1) // 7
_XZ3_NLZ = 64 - _XZ3_MAXZ.bit_length()
_XZ3_OFF = _XZ3_NLZ % 4
_XZ3_DIGITS = (64 - _XZ3_NLZ) // 4 + (0 if _XZ3_OFF == 0 else 1)
_WEEK_S = 604_800
# hex chars of every writer's partition prefix unless it is told otherwise
DIGITS = 1
_NULL_PART = "__HIVE_DEFAULT_PARTITION__"
_WORLD = (-180.0, -90.0, 180.0, 90.0)
# range-search budgets of the XZ and S2 covers
_XZ_MAX_RANGES = 2000
_S2_MAX_CELLS = 64


# ---------------------------------------------------------------------------
# keys: each adds the hex key column ``name`` to a DataFrame. Z2 and Z3
# are JVM expressions (curves/zexpr.py); XZ2, XZ3 and S2 have no closed
# form and run numpy encoders behind one Arrow UDF.

def _z2_key(df: DataFrame, name: str, x: Column, y: Column) -> DataFrame:
    """z << 2: 16 hex chars (Z2SFC.hexEncode)."""
    df = zexpr.with_z2(df, name, x, y)
    return df.withColumn(name, zexpr.hex_key(F.shiftleft(F.col(name), 2), 16))


def _z3_key(df: DataFrame, name: str, x: Column, y: Column,
            secs: Column) -> DataFrame:
    """z << 1: 16 hex chars over the 63-bit z (the Z2SFC.hexEncode trick
    at Z3's bit width); z interleaves the offset within the week."""
    df = zexpr.with_z3(df, name, x, y, secs)
    return df.withColumn(name, zexpr.hex_key(F.shiftleft(F.col(name), 1), 16))


def _xz2_codes(x0, y0, x1, y1):
    z = _XZ2.index(x0, y0, x1, y1, lenient=True)
    return np.asarray(z, np.uint64) << np.uint64(_XZ2.hex_bit_offset)


def _xz3_codes(x0, y0, x1, y1, secs):
    """A null dtg (NaN in the batch) keys at offset 0; it lands in the
    null week bin, which only full scans open."""
    secs = np.asarray(secs, np.float64)
    secs = np.where(np.isnan(secs), 0.0, secs).astype(np.int64)
    off = (secs % _WEEK_S).astype(np.float64)
    z = _XZ3.index(x0, y0, off, x1, y1, off, lenient=True)
    return np.asarray(z, np.uint64) << np.uint64(_XZ3_OFF)


def _s2_codes(x, y):
    """The UNSIGNED level-30 S2 cell id."""
    return cell_id_from_lonlat(np.asarray(x, np.float64), np.asarray(y, np.float64),
                               MAX_LEVEL).astype(np.uint64)


def _hex_udf(encode, width: int):
    """Key builder: ``width``-char hex of ``encode``'s codes of the key
    columns, in a pandas UDF (fixed width, so lexicographic == numeric
    order)."""
    fmt = f"0{width}x"

    @F.pandas_udf(StringType())
    def enc(*cols: pd.Series) -> pd.Series:
        codes = encode(*(c.to_numpy() for c in cols))
        return pd.Series([format(int(v), fmt) for v in codes])

    return lambda df, name, *cols: df.withColumn(name, enc(*cols))


def _envelope_cols_udf():
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


# ---------------------------------------------------------------------------
# covers: (bbox, off0, off1, digits) -> sorted covering prefixes

def _clamp_window(bbox, off0, off1):
    """(x0, y0, t0), (x1, y1, t1) of a box and within-bin offset window,
    clamped into the world and the week as the lenient store keys clamp
    rows: a window wholly outside the world covers the edge cells its
    clamped rows are keyed to."""
    x0, y0, x1, y1 = bbox
    lo, hi = (-180.0, -90.0, 0), (180.0, 90.0, MAX_OFFSET["week"])
    return tuple(tuple(float(min(max(v, a), b)) for v, a, b in zip(w, lo, hi))
                 for w in ((x0, y0, off0), (x1, y1, off1)))


def _morton_cover(encode, dims):
    """Closed-form cover of a Morton key over the n normalized ``dims``
    (x, y[, within-bin offset]) of equal precision, interleaved with the
    last dimension on top. A 4*digits-bit prefix fixes L + (r >= n - i)
    bits of dimension i, where L, r = divmod(4*digits, n), so it is an
    axis-aligned box, and the prefixes meeting the window are exactly
    the interleaves of each dimension's prefix range."""
    n, bits = len(dims), dims[0].precision

    def cover(bbox, off0, off1, digits):
        lows, highs = _clamp_window(bbox, off0, off1)
        lead, rem = divmod(4 * digits, n)
        axes = []
        for i, (d, lo, hi) in enumerate(zip(dims, lows, highs)):
            drop = bits - lead - (rem >= n - i)
            axes.append(np.arange(int(d.normalize(lo)) >> drop,
                                  (int(d.normalize(hi)) >> drop) + 1,
                                  dtype=np.int64) << drop)
        grid = np.meshgrid(*axes, indexing="ij")
        codes = encode(*(g.ravel() for g in grid)).astype(np.uint64)
        codes >>= np.uint64(n * bits - 4 * digits)
        return [format(int(c), f"0{digits}x") for c in np.sort(codes)]

    return cover


def _range_prefixes(ranges, bit_offset: int, width: int,
                    digits: int) -> list[str]:
    """Covering prefixes of curve code ranges [lo, hi] (extra tuple
    fields ignored) of a ``width``-hex-char key holding the code shifted
    left by ``bit_offset``. A range's cells contain every row whose code
    falls inside it, so the prefix union is a true superset of the
    matching rows."""
    shift = 4 * (width - digits)
    total = 16 ** digits
    prefixes: set[int] = set()
    for lo, hi, *_ in ranges:
        prefixes.update(range((lo << bit_offset) >> shift,
                              ((hi << bit_offset) >> shift) + 1))
        if len(prefixes) >= total:
            break
    return [format(p, f"0{digits}x") for p in sorted(prefixes)]


def _xz2_cover(bbox, off0, off1, digits):
    """XZ2 range planner (XZ2SFC.ranges BFS port) expanded to prefixes."""
    (x0, y0, _), (x1, y1, _) = _clamp_window(bbox, off0, off1)
    ranges = _XZ2.ranges([(x0, y0, x1, y1)], max_ranges=_XZ_MAX_RANGES)
    return _range_prefixes(ranges, _XZ2.hex_bit_offset, _XZ2.hex_digits, digits)


def _xz3_cover(bbox, off0, off1, digits):
    (x0, y0, t0), (x1, y1, t1) = _clamp_window(bbox, off0, off1)
    ranges = _XZ3.ranges([(x0, y0, t0, x1, y1, t1)], max_ranges=_XZ_MAX_RANGES)
    return _range_prefixes(ranges, _XZ3_OFF, _XZ3_DIGITS, digits)


def _s2_cover(bbox, off0, off1, digits):
    """S2 covering (S2RegionCoverer analog) expanded to prefixes. The
    S3 key orders the cell before the time offset, so one covering
    serves every within-bin window."""
    cells = region_coverer(*bbox, max_cells=_S2_MAX_CELLS)
    return _range_prefixes(s2_ranges(cells), 0, 16, digits)


# ---------------------------------------------------------------------------
# the keyspace table

class KeySpace(NamedTuple):
    """One store layout (the reference's IndexKeySpace)."""

    partitions: tuple        # hive partition columns, outer to inner
    bin: str | None          # week-bin partition column, if any
    hex: str                 # curve key column the prefix truncates
    inputs: tuple            # key inputs: x, y, bx0..by1 (envelope), secs
    key: Callable            # (df, hex, *input Columns) -> df + hex key
    width: int               # hex chars of the key
    cells: Callable          # unchecked cover; call cover()
    extended: bool           # residual: envelope overlap, else point box

    @property
    def prefix(self) -> str:
        return self.partitions[-1]

    def cover(self, bbox, off0: int, off1: int, digits: int) -> list[str]:
        """Sorted ``digits``-hex-char prefixes whose cells meet ``bbox``
        within the week-offset window [off0, off1] (ignored by unbinned
        and S3 keys). The one input check every keyspace shares: an
        inverted window (split dateline-crossing windows first) or a
        prefix length outside the key raises ValueError."""
        x0, y0, x1, y1 = bbox
        if x0 > x1 or y0 > y1:
            raise ValueError(
                f"inverted bbox ({x0},{y0},{x1},{y1}); split "
                "dateline-crossing windows before planning")
        # the Morton covers shift a 62/63-bit code, so 15 chars at most
        top = min(15, self.width)
        if not 1 <= digits <= top:
            raise ValueError(f"digits must be in [1, {top}], got {digits}")
        return self.cells(bbox, off0, off1, digits)


_ENV = ("bx0", "by0", "bx1", "by1")

KEYSPACES: dict[str, KeySpace] = {
    "z2": KeySpace(("z2_p",), None, "z2_hex", ("x", "y"), _z2_key, 16,
                   _morton_cover(z2_encode, (_SFC.lon, _SFC.lat)), False),
    "xz2": KeySpace(("xz2_p",), None, "xz2_hex", _ENV,
                    _hex_udf(_xz2_codes, _XZ2.hex_digits),
                    _XZ2.hex_digits, _xz2_cover, True),
    "z3": KeySpace(("z3_bin", "z3_p"), "z3_bin", "z3_hex", ("x", "y", "secs"),
                   _z3_key, 16,
                   _morton_cover(z3_encode, (_Z3.lon, _Z3.lat, _Z3.time)), False),
    "xz3": KeySpace(("xz3_bin", "xz3_p"), "xz3_bin", "xz3_hex",
                    _ENV + ("secs",), _hex_udf(_xz3_codes, _XZ3_DIGITS),
                    _XZ3_DIGITS, _xz3_cover, True),
    "s2": KeySpace(("s2_p",), None, "s2_hex", ("x", "y"),
                   _hex_udf(_s2_codes, 16), 16, _s2_cover, False),
    "s3": KeySpace(("s3_bin", "s3_p"), "s3_bin", "s2_hex", ("x", "y"),
                   _hex_udf(_s2_codes, 16), 16, _s2_cover, False),
}

# The attribute index's spatial tier: a z2 keyspace under an outer
# hash-bucket partition (write_indexed_attr adds ``attr_b``).
ATTR = KEYSPACES["z2"]._replace(partitions=("attr_b", "z2_p"))


# ---------------------------------------------------------------------------
# shared predicates, write path and scan path

def _point_box(bbox, x: str, y: str) -> Column:
    x0, y0, x1, y1 = bbox
    return ((F.col(x) >= x0) & (F.col(x) <= x1)
            & (F.col(y) >= y0) & (F.col(y) <= y1))


def _envelope_overlap(bbox) -> Column:
    x0, y0, x1, y1 = bbox
    return ((F.col("bx0") <= x1) & (F.col("bx1") >= x0)
            & (F.col("by0") <= y1) & (F.col("by1") >= y0))


def residual(extended: bool, bbox, interval, x: str, y: str,
             secs: str) -> list[Column]:
    """The exact row predicates of a box / half-open [t0, t1) interval
    query: an envelope overlap for extended geometries, else a point box
    on ``x``/``y``."""
    preds = []
    if bbox is not None:
        preds.append(_envelope_overlap(bbox) if extended else _point_box(bbox, x, y))
    if interval is not None:
        preds.append((F.col(secs) >= interval[0]) & (F.col(secs) < interval[1]))
    return preds


def bin_windows(t0: int, t1: int, bins=None) -> dict[tuple, list[int]]:
    """The week bins meeting [t0, t1) (all of them, or those among
    ``bins``) grouped by their within-bin offset window:
    ``{(off0, off1): [bin, ...]}``. Interior bins share the full window,
    so at most three windows need a cover (Z3IndexKeySpace.scala:132-158
    per-bin fan-out)."""
    b0, b1 = t0 // _WEEK_S, (t1 - 1) // _WEEK_S
    out: dict[tuple, list[int]] = {}
    for b in (range(b0, b1 + 1) if bins is None
              else [b for b in bins if b0 <= b <= b1]):
        window = (max(t0 - b * _WEEK_S, 0), min(t1 - 1 - b * _WEEK_S, _WEEK_S - 1))
        out.setdefault(window, []).append(b)
    return out


def keyed(df: DataFrame, ks: KeySpace, digits: int = DIGITS, *, x: str = "lon",
          y: str = "lat", geom: str = "geom", secs: str = "secs") -> DataFrame:
    """Attach ``ks``'s key and partition columns. ``x``/``y`` name the
    point columns, ``geom`` the WKB column of extended geometries (whose
    ``bx0..by1`` envelope sidecars are added) and ``secs`` the
    epoch-seconds dtg, as far as the keyspace reads them."""
    if ks.extended:
        df = (df.withColumn("__e__", _envelope_cols_udf()(F.col(geom)))
                .select("*", *(f"__e__.{c}" for c in _ENV)).drop("__e__"))
    names = {"x": x, "y": y, "secs": secs}
    df = ks.key(df, ks.hex, *(F.col(names.get(c, c)) for c in ks.inputs))
    if ks.bin is not None:  # a null dtg lands in the null (default) bin
        df = df.withColumn(ks.bin, zexpr.week_bin(secs).cast("int"))
    return df.withColumn(ks.prefix, F.substring(ks.hex, 1, digits))


def write_store(df: DataFrame, path: str, ks: KeySpace, digits: int = DIGITS,
                **cols) -> None:
    """Write ``df`` as a ``ks``-partitioned parquet store (at most
    16^digits prefixes per bin); ``cols`` as for :func:`keyed`."""
    keyed(df, ks, digits, **cols).write.mode("overwrite") \
        .partitionBy(*ks.partitions).parquet(path)


def scan_store(spark, path: str, ks: KeySpace, bbox=None, interval=None,
               digits: int | None = None, *, x: str = "lon", y: str = "lat",
               secs: str = "secs") -> DataFrame:
    """Planned scan of a ``ks`` store: partition pruning + the exact
    pushed residual. ``bbox=(x0, y0, x1, y1)``, ``interval=(t0, t1)``
    epoch seconds half-open; ``x``/``y``/``secs`` must match the write.
    ``digits`` is the store's prefix width, read from the store when
    None (see :func:`prefix_digits`).

    A binned store with an interval prunes per group of week bins
    sharing a within-bin window (:func:`bin_windows`), each group with
    its own cover (the whole world stands in for a missing bbox).
    Otherwise the bbox's cover prunes the prefix column.
    """
    df, widths = _open(spark, path)
    digits = prefix_digits(widths, ks.prefix, digits)
    if interval is not None and interval[1] <= interval[0]:
        return df.filter(F.lit(False))  # empty half-open interval
    conds = residual(ks.extended, bbox, interval, x, y, secs)
    if ks.bin is not None and interval is not None:
        by_cover: dict[tuple, list[int]] = {}
        for (off0, off1), bins in bin_windows(*interval).items():
            pfx = tuple(ks.cover(bbox or _WORLD, off0, off1, digits))
            by_cover.setdefault(pfx, []).extend(bins)
        conds.insert(0, reduce(operator.or_, (
            F.col(ks.bin).isin(bins) & F.col(ks.prefix).isin(list(pfx))
            for pfx, bins in by_cover.items())))
    elif bbox is not None:
        conds.insert(0, F.col(ks.prefix).isin(
            ks.cover(bbox, 0, _WEEK_S - 1, digits)))
    return df.filter(reduce(operator.and_, conds)) if conds else df


# ---------------------------------------------------------------------------
# opening a store

# (session, absolute path) -> (file listing, DataFrame, prefix widths),
# least recently used first; bounded so a process that opens many stores
# keeps only the recent ones alive
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


def _hidden(name: str) -> bool:
    """A path component Spark's partition discovery skips (e.g. the
    ``_staging`` directory of streaming ingest)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _widths(dirs) -> dict[str, set]:
    """``{partition column: the lengths of its values}`` over the hive
    ``col=value`` components of ``dirs`` (each a sequence of directory
    names); the null partition has no width."""
    out: dict[str, set] = {}
    for parts in dirs:
        for part in parts:
            col, eq, val = part.partition("=")
            if eq and val != _NULL_PART:
                out.setdefault(col, set()).add(len(val))
    return out


def _listing_widths(listing: tuple) -> dict[str, set]:
    """Partition value widths of a local store's :func:`_listing`."""
    dirs = (rel.split(os.sep)[:-1] for rel, _, _ in listing)
    return _widths(d for d in dirs if not any(map(_hidden, d)))


def _local_widths(path: str) -> dict[str, set]:
    """Partition value widths of the store at a local ``path``, read
    from its directory names (no Spark); empty for any other path."""
    root = os.path.abspath(path)
    return _listing_widths(_listing(root)) if os.path.isdir(root) else {}


def prefix_digits(widths: dict, column: str, digits: int | None = None) -> int:
    """The prefix width a reader of ``column`` uses: the one width the
    store holds (:data:`DIGITS` for a store without such directories,
    whose prefix filter can match nothing at any width). An explicit
    ``digits`` is checked against the store; a mismatch, or a store
    holding two widths, raises ValueError instead of pruning on prefixes
    no directory has."""
    held = widths.get(column, ())
    if len(held) > 1:
        raise ValueError(f"store holds {column} prefixes of {sorted(held)} "
                         "hex chars; rewrite it at one width")
    if digits is None:
        return next(iter(held), DIGITS)
    if held and digits not in held:
        raise ValueError(f"digits={digits}, but the store's {column} "
                         f"prefixes have {next(iter(held))} hex chars")
    return digits


def _open(spark, path: str) -> tuple[DataFrame, dict]:
    """:func:`open_store` plus the store's partition value widths."""
    root = os.path.abspath(path)
    if not os.path.isdir(root):
        df = spark.read.parquet(path)
        return df, _widths(f.split("/")[:-1] for f in df.inputFiles())
    key = (spark, root)
    listing = _listing(root)
    with _OPENED_LOCK:
        hit = _OPENED.get(key)
        if hit is not None and hit[0] == listing:
            _OPENED.move_to_end(key)
            return hit[1], hit[2]
    df, widths = spark.read.parquet(path), _listing_widths(listing)
    with _OPENED_LOCK:
        _OPENED[key] = (listing, df, widths)
        _OPENED.move_to_end(key)
        while len(_OPENED) > _OPENED_MAX:
            _OPENED.popitem(last=False)
    return df, widths


def open_store(spark, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reused while the store is unchanged.

    Opening a store lists it and discovers its partitions (a Spark job
    on a many-partition store), which costs more than a pruned query's
    scan. The DataFrame of the last open of the same local directory in
    the same session is returned again as long as a driver-side listing
    of its files (relative path, size, mtime_ns) has not changed; any
    write, published file or compaction changes the listing, so the next
    open reads the store afresh. A path that is not a local directory is
    always read afresh. The same listing (``df.inputFiles()`` for any
    other path) gives the readers the store's prefix width.
    """
    return _open(spark, path)[0]


def read_indexed(spark, path: str) -> DataFrame:
    return open_store(spark, path)


# ---------------------------------------------------------------------------
# named entry points of the z2, xz2 and z3 stores

def z2_keyed(df: DataFrame, x: str = "lon", y: str = "lat",
             digits: int = DIGITS) -> DataFrame:
    """The z2 key columns (z2_hex + z2_p), shared by the batch writer and
    streaming ingest so the two write paths can never drift."""
    return keyed(df, KEYSPACES["z2"], digits, x=x, y=y)


def write_indexed(df: DataFrame, path: str, x: str = "lon", y: str = "lat",
                  digits: int = DIGITS) -> None:
    """Point rows -> z2 store (at most 16^digits partitions)."""
    write_store(df, path, KEYSPACES["z2"], digits, x=x, y=y)


def bbox_query(spark, path: str, xmin: float, ymin: float, xmax: float,
               ymax: float, digits: int | None = None,
               x: str = "lon", y: str = "lat") -> DataFrame:
    """Planned bbox scan of a z2 store (``x``/``y`` as written)."""
    return scan_store(spark, path, KEYSPACES["z2"], (xmin, ymin, xmax, ymax),
                      None, digits, x=x, y=y)


def write_indexed_xz2(df: DataFrame, path: str, geom: str = "geom",
                      digits: int = DIGITS) -> None:
    """Extended geometries (WKB ``geom``) -> xz2 store (XZ2Scheme)."""
    write_store(df, path, KEYSPACES["xz2"], digits, geom=geom)


def bbox_query_xz2(spark, path: str, xmin: float, ymin: float, xmax: float,
                   ymax: float, digits: int | None = None) -> DataFrame:
    """Planned bbox scan of an xz2 store: rows whose ENVELOPE meets the
    window; exact geometry refine is the caller's predicate (the
    reference's residual-CQL split)."""
    return scan_store(spark, path, KEYSPACES["xz2"], (xmin, ymin, xmax, ymax),
                      None, digits)


def write_indexed_z3(df: DataFrame, path: str, x: str = "lon", y: str = "lat",
                     secs: str = "secs", digits: int = DIGITS) -> None:
    """Points with an epoch-seconds dtg -> (z3_bin, z3_p) store."""
    write_store(df, path, KEYSPACES["z3"], digits, x=x, y=y, secs=secs)


def stbox_query_z3(spark, path: str, xmin: float, ymin: float, xmax: float,
                   ymax: float, t0: int, t1: int, digits: int | None = None,
                   x: str = "lon", y: str = "lat", secs: str = "secs") -> DataFrame:
    """Planned box x [t0, t1) epoch-seconds scan of a z3 store."""
    return scan_store(spark, path, KEYSPACES["z3"], (xmin, ymin, xmax, ymax),
                      (t0, t1), digits, x=x, y=y, secs=secs)


# ---------------------------------------------------------------------------
# ECQL queries over a z2 store

def plan_query(spark, path: str, cql: str, digits: int | None = None,
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
                          residual compiled filter (``digits``: the
                          store's prefix width, read from it when None)
    - ``full-scan``       unbounded (attribute-only / NOT / whole-world
                          spatial, FilterHelper.scala:44-67) or
                          unselective -> scan + residual; attribute
                          pushdown is Catalyst's
    """
    from ..functions.cql import cql_filter, extract_bounds

    df, widths = _open(spark, path)
    ks = KEYSPACES["z2"]
    digits = prefix_digits(widths, ks.prefix, digits)
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
        for w in windows:
            prefixes.update(ks.cover(w, 0, _WEEK_S - 1, digits))
        if len(prefixes) < (16 ** digits) * 3 // 4:
            plan["strategy"] = "z2-index"
            plan["prefixes"] = len(prefixes)
            cond = reduce(operator.or_, (_point_box(w, x, y) for w in windows))
            df = df.filter(F.col(ks.prefix).isin(sorted(prefixes)) & cond)
        # else: covering nearly everything — pruning would only add a
        # partition-filter cost; fall through to full-scan + residual
    df = df.withColumn("geom", F.expr(f"st_makePoint({x}, {y})"))
    return cql_filter(df, cql).drop("geom"), plan


def query_store(spark, path: str, cql: str, digits: int | None = None,
                x: str = "lon", y: str = "lat") -> DataFrame:
    """The DataStore.getFeatureReader(query) analog: ECQL string in,
    planned scan out (see :func:`plan_query` for the strategy logic)."""
    df, _ = plan_query(spark, path, cql, digits, x, y)
    return df


# ---------------------------------------------------------------------------
# attribute index

def _bucket(c: Column, max_buckets: int) -> Column:
    return F.pmod(F.xxhash64(c), F.lit(max_buckets))


def write_indexed_attr(df: DataFrame, path: str, attr: str,
                       x: str = "lon", y: str = "lat",
                       digits: int = DIGITS, max_buckets: int = 256) -> None:
    """Attribute index analog (the reference's AttributeIndex:
    attribute value as the key prefix with spatial Z tiering as the
    suffix — geomesa-index-api .../index/attribute/AttributeIndex.scala,
    sharding/tiering in AttributeIndexKeySpace): hive-partition by a
    bounded HASH BUCKET of the attribute (xxhash64 mod max_buckets, so
    a high-cardinality attribute can never explode the partition count
    — the reference shards attribute keys the same way), with a short
    z2 prefix as the secondary partition layer (:data:`ATTR`). An
    attr-equality query prunes to one bucket; a spatial filter prunes
    z2 prefixes within it; the exact attr/bbox predicates push down to
    the parquet scan.
    """
    write_store(df.withColumn("attr_b", _bucket(F.col(attr), max_buckets)),
                path, ATTR, digits, x=x, y=y)


def attr_query(spark, path: str, attr: str, value,
               bbox: tuple | None = None, digits: int | None = None,
               max_buckets: int = 256,
               x: str = "lon", y: str = "lat") -> DataFrame:
    """Planned attribute(+bbox) scan over a write_indexed_attr store:
    bucket pruning (one hive partition family per value) + optional z2
    prefix pruning + pushed exact predicates. ``max_buckets`` must match
    the write; ``digits`` is read from the store when None. The bucket
    is the writer's JVM hash of the literal cast to the column's type
    (xxhash64 of an int and of the same bigint differ), which the
    optimizer folds to a constant partition filter."""
    df = scan_store(spark, path, ATTR, bbox, None, digits, x=x, y=y)
    lit = F.lit(value).cast(df.schema[attr].dataType)
    return df.filter((F.col("attr_b") == _bucket(lit, max_buckets))
                     & (F.col(attr) == lit))


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
