"""Lenient ingress type coercion.

Parity with the reference's Java-interop layer (JavaTypeConverter.scala:183-201):
list-of-dicts rows are coerced field-by-field to the target schema —
strings parse to numbers, numbers render to strings, epoch-millis integers
become Date/Timestamp, anything numeric becomes Decimal, "true"/"false"
strings become booleans, and missing keys become NULL.

Deviation from the reference (documented per SURVEY.md §7.4): epoch-millis →
Date/Timestamp conversion is **UTC-based**, not local-timezone-shifted
(JavaTypeConverter.scala:144-177 adds the JVM's local TZ offset; tying
engine semantics to host timezone is a portability bug at cluster scale, so
the rebuild normalizes to UTC and the engine pins
``spark.sql.session.timeZone=UTC``).

Improvement over the reference: nested Array / Map / Struct values are
coerced recursively (the reference throws UnsupportedOperationException for
them — JavaTypeConverter.scala:199-200).
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal
from typing import Any

from pyspark.sql import types as T

_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def coerce_value(value: Any, data_type: T.DataType) -> Any:
    """Coerce a single python value to the given Spark SQL type, leniently."""
    if value is None:
        return None

    if isinstance(data_type, T.StringType):
        return str(value)

    if isinstance(data_type, T.BooleanType):
        if isinstance(value, bool):
            return value
        if isinstance(value, str):
            v = value.strip().lower()
            if v in ("true", "1", "yes"):
                return True
            if v in ("false", "0", "no"):
                return False
            raise ValueError(f"cannot coerce {value!r} to boolean")
        if isinstance(value, (int, float)):
            return value != 0
        raise ValueError(f"cannot coerce {type(value).__name__} to boolean")

    if isinstance(data_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        if isinstance(value, bool):
            return int(value)
        if isinstance(value, int):
            return value
        if isinstance(value, float):
            return int(value)
        if isinstance(value, str):
            return int(float(value)) if "." in value else int(value)
        if isinstance(value, Decimal):
            return int(value)
        raise ValueError(f"cannot coerce {type(value).__name__} to integer")

    if isinstance(data_type, (T.FloatType, T.DoubleType)):
        if isinstance(value, (int, float)):
            return float(value)
        if isinstance(value, str):
            return float(value)
        if isinstance(value, Decimal):
            return float(value)
        raise ValueError(f"cannot coerce {type(value).__name__} to float")

    if isinstance(data_type, T.DecimalType):
        if isinstance(value, Decimal):
            return value
        if isinstance(value, (int, str)):
            return Decimal(str(value))
        if isinstance(value, float):
            return Decimal(str(value))
        raise ValueError(f"cannot coerce {type(value).__name__} to decimal")

    if isinstance(data_type, T.TimestampType):
        if isinstance(value, dt.datetime):
            return value
        # Epoch millis become an aware UTC datetime (see module doc): a
        # naive one would be read as process-local time by toInternal.
        if isinstance(value, (int, float)):
            return _EPOCH + dt.timedelta(milliseconds=int(value))
        if isinstance(value, str):
            v = value.strip()
            if v.isdigit():
                return _EPOCH + dt.timedelta(milliseconds=int(v))
            return dt.datetime.fromisoformat(v)
        raise ValueError(f"cannot coerce {type(value).__name__} to timestamp")

    if isinstance(data_type, T.DateType):
        if isinstance(value, dt.datetime):
            return value.date()
        if isinstance(value, dt.date):
            return value
        if isinstance(value, (int, float)):  # epoch millis, UTC
            return (_EPOCH + dt.timedelta(milliseconds=int(value))).date()
        if isinstance(value, str):
            v = value.strip()
            if v.isdigit():
                return (_EPOCH + dt.timedelta(milliseconds=int(v))).date()
            return dt.date.fromisoformat(v[:10])
        raise ValueError(f"cannot coerce {type(value).__name__} to date")

    if isinstance(data_type, T.BinaryType):
        if isinstance(value, (bytes, bytearray)):
            return bytes(value)
        if isinstance(value, str):
            return value.encode("utf-8")
        raise ValueError(f"cannot coerce {type(value).__name__} to binary")

    if isinstance(data_type, T.ArrayType):
        if isinstance(value, (list, tuple)):
            return [coerce_value(v, data_type.elementType) for v in value]
        raise ValueError(f"cannot coerce {type(value).__name__} to array")

    if isinstance(data_type, T.MapType):
        if isinstance(value, dict):
            return {
                coerce_value(k, data_type.keyType): coerce_value(v, data_type.valueType)
                for k, v in value.items()
            }
        raise ValueError(f"cannot coerce {type(value).__name__} to map")

    if isinstance(data_type, T.StructType):
        if isinstance(value, dict):
            return coerce_row(value, data_type)
        raise ValueError(f"cannot coerce {type(value).__name__} to struct")

    return value


def coerce_row(row: dict[str, Any], schema: T.StructType) -> tuple:
    """Coerce one dict to a tuple in schema field order; missing keys → NULL."""
    return tuple(coerce_value(row.get(f.name), f.dataType) for f in schema.fields)
