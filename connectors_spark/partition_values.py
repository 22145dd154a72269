"""Partition-value codec: the log stores partition values as strings; queries
need them typed. One canonical cast table in each direction (reference:
PartitionRowRecord.scala:41-160 for decode; partition values are NEVER parsed
from file paths -- DeltaInputFormat.scala:41-43)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal
from typing import Any, Dict, List, Optional, Tuple

from pyspark.sql import types as T


def decode(value: Optional[str], dtype: T.DataType) -> Any:
    """String (as stored in AddFile.partitionValues) -> Python value."""
    if value is None:
        return None
    if isinstance(dtype, T.StringType):
        return value
    if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(value)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(value)
    if isinstance(dtype, T.BooleanType):
        return value.lower() == "true"
    if isinstance(dtype, T.DecimalType):
        return Decimal(value)
    if isinstance(dtype, T.DateType):
        return dt.date.fromisoformat(value)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        v = value.replace("T", " ")
        for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S",
                    "%Y-%m-%d"):
            try:
                return dt.datetime.strptime(v, fmt)
            except ValueError:
                continue
        raise ValueError(f"cannot decode timestamp partition value {value!r}")
    if isinstance(dtype, T.BinaryType):
        return value.encode("utf-8")
    raise ValueError(f"unsupported partition type {dtype}")


def encode(value: Any) -> Optional[str]:
    """Python value -> log string."""
    if value is None:
        return None
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, dt.datetime):
        s = value.strftime("%Y-%m-%d %H:%M:%S.%f")
        return s[:-3] if s.endswith("000") else s
    if isinstance(value, dt.date):
        return value.isoformat()
    if isinstance(value, bytes):
        return value.decode("utf-8")
    return str(value)


def partition_fields(metadata) -> List[Tuple[str, str, T.DataType]]:
    """(logical name, physical name, type) per partition column."""
    nmap = metadata.name_map()
    return [(f.name, nmap[f.name], f.dataType)
            for f in metadata.partition_schema.fields]


def decode_row(partition_values: Optional[Dict[str, Optional[str]]],
               fields: List[Tuple[str, str, T.DataType]]) -> Dict[str, Any]:
    """Log partition values (physical keys) decoded by ``fields``, keyed
    by logical name: the row ``Expression.eval`` evaluates against."""
    pv = partition_values or {}
    return {name: decode(pv.get(phys), dtype) for name, phys, dtype in fields}
