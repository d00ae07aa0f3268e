"""Python -> Spark type mapping (SURVEY §1.3; ref: the SQLAlchemy
mapping in database/__init__.py:418-437).

Used when loading Python data with declared DDL or inferring from
records (the reference infers from the FIRST record,
database/__init__.py:561-568; Spark's createDataFrame samples — we keep
first-record inference available for strict parity).
"""

from __future__ import annotations

import datetime as dt
import decimal
from typing import Optional, Sequence

from pyspark.sql import types as T

# ref: database/__init__.py:421-432
PY2SPARK: dict[type, T.DataType] = {
    int: T.LongType(),                       # BigInteger
    str: T.StringType(),                     # Unicode
    float: T.DoubleType(),                   # Float
    decimal.Decimal: T.DecimalType(38, 18),  # Numeric
    dt.datetime: T.TimestampType(),          # TIMESTAMP
    bytes: T.BinaryType(),                   # LargeBinary
    bool: T.BooleanType(),                   # Boolean
    dt.date: T.DateType(),                   # Date
    dt.time: T.StringType(),                 # Time: no Spark type — documented
    dt.timedelta: T.DayTimeIntervalType(),   # Interval
    list: T.ArrayType(T.StringType()),       # ARRAY (string-element default)
    dict: T.MapType(T.StringType(), T.StringType()),  # JSON -> map default
}

# DDL type-name aliases accepted in columns: declarations
DDL_ALIASES = {
    "int": "bigint",
    "integer": "bigint",
    "text": "string",
    "varchar": "string",
    "bool": "boolean",
    "numeric": "decimal(38,18)",
    "datetime": "timestamp",
}


def py_type_to_spark(py_type: type) -> T.DataType:
    if py_type in PY2SPARK:
        return PY2SPARK[py_type]
    raise TypeError(f"no Spark mapping for python type {py_type!r}")


def normalise_ddl_type(name: str) -> str:
    return DDL_ALIASES.get(name.strip().lower(), name.strip().lower())


def schema_from_first_record(record: dict, renames: Optional[dict] = None) -> T.StructType:
    """First-record inference (ref: database/__init__.py:561-568)."""
    renames = renames or {}
    fields = []
    for k, v in record.items():
        dtype = py_type_to_spark(type(v)) if v is not None else T.StringType()
        fields.append(T.StructField(renames.get(k, k), dtype, nullable=True))
    return T.StructType(fields)


_SIMPLE_TYPES: dict[str, T.DataType] = {
    "bigint": T.LongType(),
    "long": T.LongType(),
    "string": T.StringType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
    "smallint": T.ShortType(),
    "tinyint": T.ByteType(),
}


def parse_ddl_type(name: str) -> T.DataType:
    """Session-free DDL type parser for columns: declarations."""
    name = normalise_ddl_type(name)
    if name in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[name]
    import re

    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", name)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    m = re.fullmatch(r"array<(.+)>", name)
    if m:
        return T.ArrayType(parse_ddl_type(m.group(1)))
    raise ValueError(f"unsupported DDL type {name!r}")


def schema_from_ddl_columns(columns: Sequence[dict]) -> T.StructType:
    """Declared-DDL schema (ref: database/__init__.py:20-37): list of
    {"name", "type", "dst_name"?} -> StructType."""
    fields = []
    for c in columns:
        # `or`, not a .get default: validate_columns emits dst_name/type
        # KEYS with value None, which .get's default would pass through
        # (name=None then crashes parse_ddl_type)
        name = c.get("dst_name") or c["name"]
        fields.append(
            T.StructField(
                name, parse_ddl_type(c.get("type") or "string"), nullable=True
            )
        )
    return T.StructType(fields)
