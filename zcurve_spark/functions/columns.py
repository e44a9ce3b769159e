"""Pure-Column (JVM-side) curve-key expressions — the hot path.

The 2D Morton interleave is expressible entirely with built-in bitwise
Column functions, so encoding a zkey for 10^12 rows never leaves
whole-stage codegen: no Python, no Arrow transfer, vectorized Parquet in,
codegen'd expressions through.  These mirror the numpy kernels in
``curvekey.py`` bit-for-bit (property-tested against each other), which
in turn mirror the reference layout (bitkey.c:76-97: x on even bits, y on
odd bits; bitkey.c:386-417 for the 3D triples).

Use these in every DataFrame plan; the pandas UDFs in ``udfs.py`` exist
only for ops a Column expression can't reach (Hilbert rotation state
machine, polygon refinement).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..util import array_lit

_SPREAD2_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)

_SPREAD3_STEPS = (
    (32, 0x1F00000000FFFF),
    (16, 0x1F0000FF0000FF),
    (8, 0x100F00F00F00F00F),
    (4, 0x10C30C30C30C30C3),
    (2, 0x1249249249249249),
)


def _as_col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


# Byte lookup tables (the reference's nibble-LUT idea, bitkey.c:23-25,
# widened to bytes): spread of each byte value precomputed as a literal
# array.  Column expressions stay FLAT — a shift-or chain duplicates its
# input subtree at every step, and when Catalyst inlines such a column
# into a join key / isnotnull filter the copied tree grows 2^steps and
# falls out of efficient codegen (measured: 20s vs 4s on a 32M-row
# broadcast join probe).
def _spread2_byte(b: int) -> int:
    v = 0
    for i in range(8):
        v |= ((b >> i) & 1) << (2 * i)
    return v


def _spread3_byte(b: int) -> int:
    v = 0
    for i in range(8):
        v |= ((b >> i) & 1) << (3 * i)
    return v


_LUT2 = [_spread2_byte(b) for b in range(256)]
_LUT3 = [_spread3_byte(b) for b in range(256)]


def spread2_col(v) -> Column:
    """Bit-spread a <2^32 integer column: bit i -> bit 2i (JVM-side).

    Four byte-LUT lookups on a literal array — each input reference is a
    leaf, so the expression tree is linear however Catalyst inlines it.
    """
    v = _as_col(v).cast("long")
    lut = array_lit(_LUT2)
    out = None
    for k in range(4):
        byte = F.shiftrightunsigned(v, 8 * k).bitwiseAND(F.lit(0xFF))
        part = F.element_at(lut, (byte + 1).cast("int")).cast("long")
        term = F.shiftleft(part, 16 * k) if k else part
        out = term if out is None else out.bitwiseOR(term)
    return out


def zkey2_col(x, y) -> Column:
    """2D Morton key Column; layout of bitkey.c:76-97 (x even, y odd bits).

    Inputs must be non-negative and < 2^31 per dim; output < 2^62, a
    sort-safe non-negative LongType.
    """
    return spread2_col(x).bitwiseOR(F.shiftleft(spread2_col(y), 1)).alias("zkey")


def _compact2_byte(b: int) -> int:
    """Gather even bits of a byte -> 4-bit value."""
    v = 0
    for i in range(4):
        v |= ((b >> (2 * i)) & 1) << i
    return v


_LUT2_INV = [_compact2_byte(b) for b in range(256)]


def compact2_col(v) -> Column:
    """Inverse spread: gather even bits of a long column (decode helper).
    Eight byte-LUT lookups — flat tree, same rationale as spread2_col."""
    v = _as_col(v).cast("long")
    lut = array_lit(_LUT2_INV)
    out = None
    for k in range(8):
        byte = F.shiftrightunsigned(v, 8 * k).bitwiseAND(F.lit(0xFF))
        part = F.element_at(lut, (byte + 1).cast("int")).cast("long")
        term = F.shiftleft(part, 4 * k) if k else part
        out = term if out is None else out.bitwiseOR(term)
    return out


def unzkey2_x_col(k) -> Column:
    return compact2_col(_as_col(k))


def unzkey2_y_col(k) -> Column:
    return compact2_col(F.shiftrightunsigned(_as_col(k).cast("long"), 1))


def spread3_col(v) -> Column:
    """Bit-spread a <2^21 integer column: bit i -> bit 3i (JVM-side).
    Three byte-LUT lookups — flat tree, same rationale as spread2_col."""
    v = _as_col(v).cast("long").bitwiseAND(F.lit(0x1FFFFF))
    lut = array_lit(_LUT3)
    out = None
    for k in range(3):
        byte = F.shiftrightunsigned(v, 8 * k).bitwiseAND(F.lit(0xFF))
        part = F.element_at(lut, (byte + 1).cast("int")).cast("long")
        term = F.shiftleft(part, 24 * k) if k else part
        out = term if out is None else out.bitwiseOR(term)
    return out


def zkey3_col(x, y, z) -> Column:
    """3D Morton key Column for coords < 2^21 (63-bit key; bitkey.c:386-417
    layout: bit 3i=z, 3i+1=y, 3i+2=x)."""
    return (
        F.shiftleft(spread3_col(x), 2)
        .bitwiseOR(F.shiftleft(spread3_col(y), 1))
        .bitwiseOR(spread3_col(z))
        .alias("zkey3")
    )


def tile_id_col(zkey, level: int, bits: int = 30) -> Column:
    """H3/S2-style cell id = Z-key prefix at `level` (2*level bits kept).

    A tile is exactly a *solid* curve interval (SURVEY.md §2.7): all keys
    with this prefix lie in the tile's square.  Pure prefix arithmetic —
    no recompute from coords.
    """
    if not 0 <= level <= bits:
        raise ValueError(f"level must be in [0, {bits}]")
    return F.shiftrightunsigned(_as_col(zkey).cast("long"), 2 * (bits - level))


def tile_bounds(tile: int, level: int, bits: int = 30) -> tuple[int, int]:
    """[lo, hi] zkey interval covered by a tile id (driver-side ints)."""
    shift = 2 * (bits - level)
    lo = tile << shift
    return lo, lo | ((1 << shift) - 1)


def quantize_lon_col(lon, bits: int = 30) -> Column:
    """Map lon [-180,180) to [0, 2^bits) — matches curvekey.quantize_lon."""
    n = float(1 << bits)
    q = F.floor((_as_col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    return F.least(F.greatest(q, F.lit(0)), F.lit((1 << bits) - 1)).cast("long")


def quantize_lat_col(lat, bits: int = 30) -> Column:
    n = float(1 << bits)
    q = F.floor((_as_col(lat) + F.lit(90.0)) / F.lit(180.0) * F.lit(n))
    return F.least(F.greatest(q, F.lit(0)), F.lit((1 << bits) - 1)).cast("long")


def interval_filter(zkey, intervals) -> Column:
    """OR-of-BETWEEN predicate over decomposed curve intervals.

    Pushes down to Parquet row-group min-max pruning on a zkey-sorted
    layout — the Spark analog of the reference's B-tree descent
    (sp_tree.c:266-354).  `intervals` is a list of (lo, hi[, solid]).
    """
    k = _as_col(zkey)
    pred = F.lit(False)
    for iv in intervals:
        lo, hi = (iv.lo, iv.hi) if hasattr(iv, "lo") else (iv[0], iv[1])
        pred = pred | k.between(F.lit(int(lo)), F.lit(int(hi)))
    return pred
