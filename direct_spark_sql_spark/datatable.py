"""Materialized client-facing table — parity with the reference's
``DirectDataTable(schema, data)`` (DirectDataTable.scala:25-51): the
input/output unit of the session facade's ``sql_directly``, convertible to
and from list-of-dicts with lenient per-field coercion.

A DataTable is its ``schema`` and one immutable ``pyarrow.Table``,
``arrow``.  The Engine fetches every result as Arrow in one helper call
(``direct.py``); only without a JDK, where that helper cannot be built,
does ``from_dataframe`` fetch with ``collect()``.  Rows enter as
``createDataFrame(list[Row])`` takes them (verifier, converter,
``toInternal``: a naive datetime is process-local).
``to_dataframe`` binds the table in-plan, starting no Python worker, as
the reference does (DirectSparkSession.scala:132-135).  ``data`` builds
``Row``s on first read, as ``collect()`` gives them, kept on that object
only; Arrow and pandas consumers read ``arrow``.

At cluster scale the materialized form is only for *result* surfaces (the
reference collects every result anyway — DirectSparkSession.scala:118-120);
pipelines should stay on DataFrames and only land in a DataTable at the
client boundary.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession, types as T
from pyspark.sql.pandas import types as PT
from pyspark.sql.types import _create_converter, _make_type_verifier

from direct_spark_sql_spark.coercion import coerce_row

#: The integer Spark stores each temporal type as, which ``fromInternal`` takes.
_STORAGE = {T.DateType: T.IntegerType(), T.TimestampType: T.LongType(),
            T.TimestampNTZType: T.LongType(), T.DayTimeIntervalType: T.LongType(),
            T.TimeType: T.LongType()}


def as_struct_type(schema: T.StructType | str) -> T.StructType:
    """Accept either a StructType or a DDL string ("name string, age int")."""
    return T.StructType.fromDDL(schema) if isinstance(schema, str) else schema


def _map_leaves(dt: T.DataType, fn: Callable[[T.DataType], T.DataType]) -> T.DataType:
    """``dt`` with ``fn`` applied to every type that is not a struct, array or map."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _map_leaves(f.dataType, fn), f.nullable)
                             for f in dt])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_map_leaves(dt.elementType, fn), dt.containsNull)
    if isinstance(dt, T.MapType):
        key, value = _map_leaves(dt.keyType, fn), _map_leaves(dt.valueType, fn)
        return T.MapType(key, value, dt.valueContainsNull)
    return fn(dt)


class _FoldAwareTimestamp(T.TimestampType):
    """TIMESTAMP whose ``toInternal`` converts a naive datetime with
    ``datetime.timestamp()``, which reads its ``fold`` (PEP 495; ``collect()``
    sets ``fold=1`` on the second occurrence of a repeated local hour) and
    keeps no state.  PySpark's ``time.mktime`` ignores ``fold``, and for a
    repeated hour glibc answers by the previous ``mktime`` call."""

    def toInternal(self, dt):
        if dt is not None and dt.tzinfo is None:
            return int(dt.replace(microsecond=0).timestamp()) * 1_000_000 + dt.microsecond
        return super().toInternal(dt)


def _rows_to_arrow(schema: T.StructType, rows: Iterable[Any]) -> pa.Table:
    """The Arrow table ``createDataFrame(list[Row])`` stores for ``rows``; a
    nested struct that repeats a field name takes PySpark's de-duplicated
    names, as Spark Connect stores it."""
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    to_internal = _map_leaves(
        schema, lambda t: _FoldAwareTimestamp() if type(t) is T.TimestampType else t
    ).toInternal
    internal = []
    for row in rows:
        verify(row)
        internal.append(to_internal(convert(row)))
    arrow_schema = PT.to_arrow_schema(PT._deduplicate_field_names(schema))
    columns = [pa.array([row[i] for row in internal], type=field.type)
               for i, field in enumerate(arrow_schema)]
    return pa.Table.from_arrays(columns, schema=arrow_schema).rename_columns(schema.names)


def _internal_converter(dt: T.DataType) -> Callable[[Any], Any] | None:
    """Converter from a ``to_pylist()`` value of a storage-cast column to
    the internal value ``collect()`` hands ``fromInternal``, or None where
    they agree: structs become tuples, maps dicts, and a VARIANT's bytes
    ``bytearray``s."""
    if isinstance(dt, T.StructType):
        cs = [_internal_converter(f.dataType) or (lambda v: v) for f in dt]
        return lambda d: None if d is None else tuple(c(v) for c, v in zip(cs, d.values()))
    if isinstance(dt, T.ArrayType):
        conv = _internal_converter(dt.elementType)
        return conv and (lambda xs: None if xs is None else [conv(x) for x in xs])
    if isinstance(dt, T.MapType):
        kc = _internal_converter(dt.keyType) or (lambda k: k)
        vc = _internal_converter(dt.valueType) or (lambda v: v)
        return lambda kvs: None if kvs is None else {kc(k): vc(v) for k, v in kvs}
    if isinstance(dt, T.VariantType):
        return lambda d: None if d is None else {k: bytearray(v) for k, v in d.items()}
    if isinstance(dt, T.UserDefinedType):
        return _internal_converter(dt.sqlType())
    return None


def _arrow_to_rows(schema: T.StructType, table: pa.Table) -> list[Row]:
    """The rows ``collect()`` gives for ``table``: each column cast to
    ``_STORAGE`` and read as internal values, then ``schema.fromInternal``
    per row, the call ``collect()`` makes (so a repeated local hour keeps
    its ``fold``).  A flat, null-free column without a converter is read
    through NumPy, many times faster than ``to_pylist()`` and equal in value
    and type; NumPy would read an int column with nulls as floats and a
    list column as arrays."""
    columns = []
    for field, column in zip(schema.fields, table.columns):
        storage = _map_leaves(field.dataType, lambda t: _STORAGE.get(type(t), t))
        if storage != field.dataType:
            column = column.cast(PT.to_arrow_type(PT._deduplicate_field_names(storage)))
        conv = _internal_converter(field.dataType)
        if conv is None and column.null_count == 0 and not pa.types.is_nested(column.type):
            columns.append(column.to_numpy(zero_copy_only=False).tolist())
        else:
            values = column.to_pylist()
            columns.append(values if conv is None else [conv(v) for v in values])
    internal = zip(*columns) if columns else [()] * table.num_rows
    return [schema.fromInternal(values) for values in internal]


class DataTable:
    """A schema and one immutable Arrow table; ``data`` builds the rows."""

    def __init__(self, schema: T.StructType, data: pa.Table | Iterable[Any]):
        """``data``: the Arrow table, or rows (``Row``, tuple, list, dict)."""
        self.schema = schema
        self.arrow = data if isinstance(data, pa.Table) else _rows_to_arrow(schema, data)
        self._rows: list[Row] | None = None

    # -- constructors -------------------------------------------------------

    @classmethod
    def from_dataframe(cls, df: DataFrame) -> "DataTable":
        """``df``'s result, fetched with ``collect()``: the Engine's fetch
        where the helper of ``direct.py`` cannot be built (no JDK).  Correct
        for every type ``collect()`` carries, but each row passes through a
        ``Row`` and back into Arrow, so large results are slower than the
        helper's Arrow frames."""
        return cls(df.schema, df.collect())

    @classmethod
    def from_list_of_dicts(
        cls, rows: Iterable[dict[str, Any]], schema: T.StructType | str
    ) -> "DataTable":
        """Lenient ingress (reference: DirectDataTable.fromJavaMapList,
        DirectDataTable.scala:44-51 + JavaTypeConverter coercion)."""
        schema = as_struct_type(schema)
        return cls(schema, (coerce_row(r, schema) for r in rows))

    # -- egress -------------------------------------------------------------

    @property
    def data(self) -> list[Row]:
        """The rows, as ``collect()`` gives them; built on first read."""
        if self._rows is None:
            self._rows = _arrow_to_rows(self.schema, self.arrow)
        return self._rows

    def to_list_of_dicts(self) -> list[dict[str, Any]]:
        """Reference: DirectDataTable.toJavaMapList (DirectDataTable.scala:27-38)."""
        return [row.asDict(recursive=True) for row in self.data]

    def to_local_iterator(self):
        """One dict per row, as :meth:`to_list_of_dicts` (reference result
        contract: ``Iterator[InternalRow]``, DirectPlan.scala:81-83).  For
        larger-than-driver results use ``Engine.sql_iterator``."""
        for row in self.data:
            yield row.asDict(recursive=True)

    def to_dataframe(self, spark: SparkSession) -> DataFrame:
        """The table as ``createDataFrame`` binds its Arrow: a ``LocalRelation``,
        or above ``spark.sql.execution.arrow.localRelationThreshold`` a
        ``LogicalRDD``, built in the JVM (``Engine.register_table`` re-binds
        either as a row-free leaf)."""
        return spark.createDataFrame(self.arrow, self.schema)

    # -- dunder -------------------------------------------------------------

    def __len__(self) -> int:
        return self.arrow.num_rows

    def __iter__(self):
        return iter(self.data)

    def __repr__(self) -> str:
        return f"DataTable({self.schema.simpleString()}, {len(self)} rows)"
