"""Vectorized S2 kernels for Spark.

Two tiers (SURVEY.md §2.11, §4):

* **native column expressions** for everything that is pure 64-bit bit math
  (parent, level lsb, tokens) — stays inside whole-stage
  codegen, no Python round-trip.  These operate on *signed-flipped* cell ids
  (``id XOR 2^63`` stored as LongType): because the flip only touches bit 63
  and every mask below keeps it, the same bit identities hold and unsigned
  Hilbert order == signed order.
* **pandas UDFs** (Arrow-batched, no per-row Python) for the trig-heavy
  ladder: latlng -> leaf cell, cell -> center latlng.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..s2core import cellid as ci
from ..s2core import coords

MAX_LEVEL = 30

# ---------------------------------------------------------------------------
# Native expressions (signed-flipped domain)
# ---------------------------------------------------------------------------


def lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def parent_signed(cell: Column, level: int) -> Column:
    """Ancestor cell at ``level`` of a signed-flipped leaf/cell id column.
    Pure bit math: (id & -lsb) | lsb — Catalyst-native, codegen'd."""
    nl = lsb_for_level(level)
    return cell.bitwiseAND(F.lit(-nl)).bitwiseOR(F.lit(nl))


def sql_double(x: float) -> str:
    """SQL text of a DOUBLE literal with the bits of ``x``: its shortest
    round-trip ``repr`` plus the ``D`` suffix (a bare ``2.0`` would parse as
    DECIMAL)."""
    return f"{float(x)!r}D"


def sql_string(s: str) -> str:
    """SQL text of a STRING literal holding ``s``, quotes and backslashes
    escaped."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def cell_level_sql(col: str) -> str:
    """SQL text of the level of the signed cell id in ``col``, from its
    lowest set bit (2.0D: Spark would parse 2.0 as DECIMAL)."""
    c = f"`{col}`"
    return f"({MAX_LEVEL} - CAST((log2(CAST(({c} & -{c}) AS DOUBLE)) / 2.0D) AS INT))"


def cell_level_expr(col: str) -> Column:
    """:func:`cell_level_sql` as a native Column (the tree built from
    Columns: ``30 - cast(log2(double(col & -col)) / 2.0 as int)``)."""
    return F.expr(cell_level_sql(col))


def cell_token_sql(cell: str) -> str:
    """SQL text of :func:`cell_token` over the signed cell id in column
    ``cell``."""
    unsigned = f"(`{cell}` ^ {-(1 << 63)}L)"
    digits = f"lpad(hex({unsigned}), 16, '0')"
    return (
        f"CASE WHEN ({unsigned} = 0) THEN 'X' "
        f"ELSE lower(regexp_replace({digits}, '0+$', '')) END"
    )


def cell_token(cell_signed: Column | str) -> Column:
    """Token of a signed-flipped cell id column (``cellid.token_of``): the
    unsigned id as 16 lower-case hex digits with its trailing zero nibbles
    stripped, ``"X"`` for id 0.  Native string functions over the flipped
    bits, so no row crosses into Python.  A column name is parsed from ONE
    SQL text (:func:`cell_token_sql`); a Column gets the same tree built
    from Columns, ~60 py4j calls more."""
    if isinstance(cell_signed, str):
        return F.expr(cell_token_sql(cell_signed))
    unsigned = cell_signed.bitwiseXOR(F.lit(-(1 << 63)))
    digits = F.lpad(F.hex(unsigned), 16, "0")
    return F.when(unsigned == 0, F.lit("X")).otherwise(
        F.lower(F.regexp_replace(digits, "0+$", ""))
    )


# ---------------------------------------------------------------------------
# pandas UDFs
# ---------------------------------------------------------------------------


@F.pandas_udf(T.LongType())
def cell_from_latlng(lat: pd.Series, lng: pd.Series) -> pd.Series:
    """Leaf S2 cell id (signed-flipped) from degree lat/lng columns.
    The engine's hottest kernel: whole-column numpy, Hilbert via 4-bit
    table gathers (SURVEY.md §2.2)."""
    ids = ci.from_latlng(lat.to_numpy(dtype=np.float64), lng.to_numpy(dtype=np.float64))
    return pd.Series(ci.to_signed(ids))


@F.pandas_udf(T.DoubleType())
def cell_to_lat(cell_signed: pd.Series) -> pd.Series:
    ids = ci.from_signed(cell_signed.to_numpy(dtype=np.int64))
    lat, _ = ci.to_latlng(ids)
    return pd.Series(lat)


@F.pandas_udf(T.DoubleType())
def cell_to_lng(cell_signed: pd.Series) -> pd.Series:
    ids = ci.from_signed(cell_signed.to_numpy(dtype=np.int64))
    _, lng = ci.to_latlng(ids)
    return pd.Series(lng)


@F.pandas_udf(T.IntegerType())
def cell_level(cell_signed: pd.Series) -> pd.Series:
    ids = ci.from_signed(cell_signed.to_numpy(dtype=np.int64))
    return pd.Series(ci.level(ids).astype(np.int32))


@F.pandas_udf(T.DoubleType())
def cell_exact_area(cell_signed: pd.Series) -> pd.Series:
    """Exact spherical cell area (steradians) — vectorized column kernel."""
    ids = ci.from_signed(cell_signed.to_numpy(dtype=np.int64))
    return pd.Series(ci.cells_exact_area(ids))


def compress_cell_points_udf(level: int):
    """array<array<double>> xyz vertices -> BINARY compressed stream
    (s2point_compression.d layout; ~1-4 bytes/vertex for cell-center
    chains vs 24 raw) — the storage codec for geometry columns: polyline
    vertex chains, cell-center tracks, snapped boundaries.  Pair with
    :func:`decompress_cell_points_udf` at the same level."""

    @F.pandas_udf(T.BinaryType())
    def compress(pts: pd.Series) -> pd.Series:
        from ..s2core.point_compression import encode_points_compressed

        return pd.Series(
            [
                encode_points_compressed([tuple(v) for v in row], level)
                for row in pts
            ]
        )

    return compress


def decompress_cell_points_udf(level: int):
    """Inverse of :func:`compress_cell_points_udf`: (binary, n) -> xyz
    vertex arrays."""

    @F.pandas_udf(T.ArrayType(T.ArrayType(T.DoubleType())))
    def decompress(data: pd.Series, n: pd.Series) -> pd.Series:
        from ..s2core.point_compression import decode_points_compressed

        return pd.Series(
            [
                [list(v) for v in decode_points_compressed(bytes(d), level, int(k))]
                for d, k in zip(data, n)
            ]
        )

    return decompress
