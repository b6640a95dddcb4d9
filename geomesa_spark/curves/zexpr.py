"""Z2/Z3 keys as JVM expressions.

Every Z-order key the engine computes per row is built here: the z2 and
z3 store keys, the grid cells of the joins and the z3 cells of the
stats. The key stays inside Spark's whole-stage codegen and never crosses
the Arrow boundary. The expressions are bit-identical to the numpy
reference encoders that the driver-side covers and the tests use
(``Z2SFC``/``Z3SFC`` with ``lenient=True``, curves/sfc.py):

1. each dimension is normalized as ``norm.BitNormalizedDimension`` after
   the lenient clamp: ``floor((v - min) * 2^p / (max - min))``, capped at
   ``2^p - 1``, with ``v >= max`` mapped to ``2^p - 1``;
2. truncated to its top ``level`` bits (a coarser cell);
3. spread with the magic masks of curves/zorder.py and interleaved
   (x in the lowest bit, then y, then the time offset);
4. rendered as fixed-width lowercase hex for the store keys.

A null coordinate or dtg gives a null key. ``with_z2``/``with_z3`` add
the key as a column of a DataFrame (see ``_with_code`` for why it is
not a single Column); inputs may be column names or Column expressions.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from .binnedtime import MAX_OFFSET
from .zorder import Z2_BITS_PER_DIM, Z2_SPREAD, Z3_BITS_PER_DIM, Z3_SPREAD

__all__ = ["lon_cell", "lat_cell", "with_z2", "with_z3", "week_bin", "hex_key"]

_WEEK_S = MAX_OFFSET["week"]


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _index(v, lo: float, hi: float, bits: int, level: int) -> Column:
    """Normalized ``bits``-bit index of ``v`` in [lo, hi], truncated to
    ``level`` bits; null exactly when ``v`` is null."""
    v = _col(v)
    top = (1 << bits) - 1
    # the cap matters below ``hi`` too: within ~1 ulp of the top the
    # product can round up to 2^bits (see norm.BitNormalizedDimension)
    i = F.least(F.floor((F.greatest(v, F.lit(lo)) - lo) * ((1 << bits) / (hi - lo))),
                F.lit(top))
    # v >= hi maps to the top cell. least/greatest skip nulls and a CASE
    # is always nullable, so this is arithmetic on the comparison: null
    # for a null v, and not nullable when v is not. A join on a nullable
    # key infers an isnotnull filter, which the optimizer pushes down
    # through the key's projections, inlining the index 2^steps times.
    i = i + (v >= hi).cast("long") * (F.lit(top) - i)
    return F.shiftright(i, bits - level)


def lon_cell(x, level: int = Z2_BITS_PER_DIM) -> Column:
    """Z2 longitude index (31 bits) truncated to ``level`` bits."""
    return _index(x, -180.0, 180.0, Z2_BITS_PER_DIM, level)


def lat_cell(y, level: int = Z2_BITS_PER_DIM) -> Column:
    """Z2 latitude index (31 bits) truncated to ``level`` bits."""
    return _index(y, -90.0, 90.0, Z2_BITS_PER_DIM, level)


def _with_code(df: DataFrame, name: str, dims, steps, combine) -> DataFrame:
    """``df`` plus column ``name``: the magic-mask spread of each index in
    ``dims``, interleaved with dimension k on bits k, k + n, k + 2n, ...

    Each spread step reads its input twice, and a Column expression
    cannot bind a value, so the indices are projected first: the spread
    then repeats only a column reference 2^steps times (whole-stage
    codegen evaluates each distinct step once), where a nested
    expression would repeat the normalization. The optimizer does not
    merge a projection whose non-trivial column the next one reads
    more than once."""
    tmp = [f"__{name}_d{k}__" for k in range(len(dims))]
    spread = []
    for k, t in enumerate(tmp):
        i = F.col(t)
        for shift, mask in steps:
            i = combine(i, F.shiftleft(i, shift)).bitwiseAND(F.lit(mask))
        spread.append(F.shiftleft(i, k) if k else i)
    return (df.withColumns(dict(zip(tmp, dims)))
              .withColumn(name, reduce(Column.bitwiseOR, spread)).drop(*tmp))


def with_z2(df: DataFrame, name: str, x, y,
            level: int = Z2_BITS_PER_DIM) -> DataFrame:
    """``df`` plus column ``name``: the Z2 cell of (lon ``x``, lat ``y``)
    at ``level`` bits per dimension. At 31 bits this is
    ``Z2SFC().index(x, y, lenient=True)``; at fewer, the same z shifted
    right by ``2 * (31 - level)``."""
    return _with_code(df, name, (lon_cell(x, level), lat_cell(y, level)),
                      Z2_SPREAD, Column.bitwiseXOR)


def with_z3(df: DataFrame, name: str, x, y, secs,
            level: int = Z3_BITS_PER_DIM) -> DataFrame:
    """``df`` plus column ``name``: the Z3 cell of (lon ``x``, lat ``y``,
    offset of the epoch-seconds ``secs`` within its week) at ``level``
    bits per dimension. At 21 bits this is the z of
    ``Z3SFC("week").index_millis(x, y, secs * 1000, lenient=True)``; at
    fewer, the same z shifted right by ``3 * (21 - level)``. ``secs`` is
    truncated to whole seconds first, as the numpy path casts it to
    int64."""
    off = F.pmod(_col(secs).cast("long"), F.lit(_WEEK_S)).cast("double")
    dims = (_index(x, -180.0, 180.0, Z3_BITS_PER_DIM, level),
            _index(y, -90.0, 90.0, Z3_BITS_PER_DIM, level),
            _index(off, 0.0, float(_WEEK_S), Z3_BITS_PER_DIM, level))
    return _with_code(df, name, dims, Z3_SPREAD, Column.bitwiseOR)


def week_bin(secs) -> Column:
    """Week bin (weeks since the epoch, floored) of epoch-seconds ``secs``."""
    return F.floor(_col(secs) / F.lit(_WEEK_S))


def hex_key(code, width: int) -> Column:
    """``width`` lowercase hex chars of a long, zero-padded, so that
    lexicographic order is numeric order (the long read as unsigned)."""
    return F.lpad(F.lower(F.hex(_col(code))), width, "0")
