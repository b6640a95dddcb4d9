"""Z-order (Morton) bit-interleaving kernels, vectorized with numpy.

Semantics re-derived from the reference implementation
(/root/reference/geomesa-z3/src/main/scala/org/locationtech/geomesa/zorder/sfcurve/Z2.scala:58-78
and Z3.scala:73-91): magic-mask bit spreading of 31-bit (Z2) / 21-bit (Z3)
dimension values into a single 62/63-bit long. All functions accept numpy
arrays (or scalars) and stay fully vectorized. The spread steps are one
table shared with the JVM key expressions (curves/zexpr.py).

Z2 bit layout: ``...y1x1y0x0`` (x in even bits).
Z3 bit layout: ``...z1y1x1z0y0x0``.
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
I64 = np.int64

Z2_BITS_PER_DIM = 31
Z2_MAX_MASK = np.uint64(0x7FFFFFFF)
Z3_BITS_PER_DIM = 21
Z3_MAX_MASK = np.uint64(0x1FFFFF)

# magic-mask bit spread, (shift, mask) per step: Z2 xors each shifted copy
# in (Z2.scala:58-66), Z3 ors it in (Z3.scala:73-80). One table for the
# numpy kernels here and the JVM key expressions of curves/zexpr.py.
Z2_SPREAD = ((32, 0x00000000FFFFFFFF), (16, 0x0000FFFF0000FFFF),
             (8, 0x00FF00FF00FF00FF), (4, 0x0F0F0F0F0F0F0F0F),
             (2, 0x3333333333333333), (1, 0x5555555555555555))
Z3_SPREAD = ((32, 0x001F00000000FFFF), (16, 0x001F0000FF0000FF),
             (8, 0x100F00F00F00F00F), (4, 0x10C30C30C30C30C3),
             (2, 0x1249249249249249))


def _u64(x) -> np.ndarray:
    return np.asarray(x).astype(np.uint64)


def z2_split(value) -> np.ndarray:
    """Insert one 0 bit between every bit of ``value`` (low 31 bits)."""
    x = _u64(value) & Z2_MAX_MASK
    for shift, mask in Z2_SPREAD:
        x = (x ^ (x << U64(shift))) & U64(mask)
    return x


def z2_combine(z) -> np.ndarray:
    """Combine every other bit back into a 31-bit value."""
    x = _u64(z) & U64(0x5555555555555555)
    x = (x ^ (x >> U64(1))) & U64(0x3333333333333333)
    x = (x ^ (x >> U64(2))) & U64(0x0F0F0F0F0F0F0F0F)
    x = (x ^ (x >> U64(4))) & U64(0x00FF00FF00FF00FF)
    x = (x ^ (x >> U64(8))) & U64(0x0000FFFF0000FFFF)
    x = (x ^ (x >> U64(16))) & U64(0x00000000FFFFFFFF)
    return x.astype(np.int64)


def z2_encode(x, y) -> np.ndarray:
    """Interleave two 31-bit ints into a 62-bit z value (int64)."""
    return (z2_split(x) | (z2_split(y) << U64(1))).astype(np.int64)


def z2_decode(z):
    """Inverse of :func:`z2_encode` → (x, y)."""
    z = _u64(z)
    return z2_combine(z), z2_combine(z >> U64(1))


def z3_split(value) -> np.ndarray:
    """Insert two 0 bits between every bit of ``value`` (low 21 bits)."""
    x = _u64(value) & Z3_MAX_MASK
    for shift, mask in Z3_SPREAD:
        x = (x | (x << U64(shift))) & U64(mask)
    return x


def z3_combine(z) -> np.ndarray:
    """Combine every third bit back into a 21-bit value."""
    x = _u64(z) & U64(0x1249249249249249)
    x = (x ^ (x >> U64(2))) & U64(0x10C30C30C30C30C3)
    x = (x ^ (x >> U64(4))) & U64(0x100F00F00F00F00F)
    x = (x ^ (x >> U64(8))) & U64(0x001F0000FF0000FF)
    x = (x ^ (x >> U64(16))) & U64(0x001F00000000FFFF)
    x = (x ^ (x >> U64(32))) & Z3_MAX_MASK
    return x.astype(np.int64)


def z3_encode(x, y, t) -> np.ndarray:
    """Interleave three 21-bit ints into a 63-bit z value (int64)."""
    return (z3_split(x) | (z3_split(y) << U64(1)) | (z3_split(t) << U64(2))).astype(np.int64)


def z3_decode(z):
    """Inverse of :func:`z3_encode` → (x, y, t)."""
    z = _u64(z)
    return z3_combine(z), z3_combine(z >> U64(1)), z3_combine(z >> U64(2))
