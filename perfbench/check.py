"""Order-insensitive output fingerprints for the batch queries.

Every value is rendered as text, doubles rounded to ``DIGITS`` significant
digits first so that a different partition order (a different summation
order) cannot flip the last bits.  Each row is hashed with ``xxhash64`` and
the row hashes are summed, so the fingerprint does not depend on row order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DataType,
    DoubleType,
    FloatType,
    MapType,
    StructType,
)

DIGITS = 8
_NULL = "\u0000"
_SEP = "\u0001"


def _round(c: Column, t: DataType) -> Column:
    if isinstance(t, (DoubleType, FloatType)):
        return F.format_string(f"%.{DIGITS - 1}e", c)
    if isinstance(t, ArrayType):
        elem = t.elementType
        return F.transform(c, lambda x: _round(x, elem))
    if isinstance(t, MapType):
        val = t.valueType
        return F.transform_values(c, lambda _k, v: _round(v, val))
    if isinstance(t, StructType):
        return F.struct(*[_round(c[f.name], f.dataType).alias(f.name) for f in t.fields])
    if isinstance(t, BinaryType):
        return F.hex(c)
    return c


def _text(c: Column, t: DataType) -> Column:
    r = _round(c, t)
    if isinstance(t, (ArrayType, MapType, StructType)):
        r = F.to_json(r)
    return F.coalesce(r.cast("string"), F.lit(_NULL))


def fingerprint(df: DataFrame) -> dict:
    """{"rows": row count, "hash": sum of row hashes as a decimal string}."""
    cells = [_text(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    names = F.lit(_SEP.join(df.columns))
    row_hash = F.xxhash64(names, *cells).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("rows"), F.sum(row_hash).alias("hash")).first()
    return {"rows": int(r["rows"]), "hash": str(r["hash"] if r["hash"] is not None else 0)}
