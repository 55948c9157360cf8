"""Materialized client-facing table — parity with the reference's
``DirectDataTable(schema, data)`` (DirectDataTable.scala:25-51): the
input/output unit of the session facade's ``sql_directly``, convertible to
and from list-of-dicts with lenient per-field coercion.

Ingress is Arrow → ``LocalRelation``, the reference's in-plan binding
(``LocalRelation(schema.toAttributes, rows)``, DirectSparkSession.scala:
132-135): ``to_dataframe`` builds a ``pyarrow.Table`` from the rows and
hands it to ``createDataFrame``, so a query over the view scans rows the
plan already holds and starts no Python worker.

At cluster scale the materialized form is only for *result* surfaces (the
reference collects every result anyway — DirectSparkSession.scala:118-120);
pipelines should stay on DataFrames and only land in a DataTable at the
client boundary.
"""

from __future__ import annotations

from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _create_converter, _make_type_verifier

from direct_spark_sql_spark.coercion import coerce_row


def as_struct_type(schema: T.StructType | str) -> T.StructType:
    """Accept either a StructType or a DDL string ("name string, age int")."""
    if isinstance(schema, str):
        return T.StructType.fromDDL(schema)
    return schema


class DataTable:
    """A schema-tagged, materialized, row-oriented in-memory table."""

    def __init__(self, schema: T.StructType, data: list[Row]):
        self.schema = schema
        self.data = data

    # -- constructors -------------------------------------------------------

    @classmethod
    def from_dataframe(cls, df: DataFrame) -> "DataTable":
        return cls(df.schema, df.collect())

    @classmethod
    def from_list_of_dicts(
        cls, rows: Iterable[dict[str, Any]], schema: T.StructType | str
    ) -> "DataTable":
        """Lenient ingress (reference: DirectDataTable.fromJavaMapList,
        DirectDataTable.scala:44-51 + JavaTypeConverter coercion)."""
        schema = as_struct_type(schema)
        names = [f.name for f in schema.fields]
        data = [Row(**dict(zip(names, coerce_row(r, schema)))) for r in rows]
        return cls(schema, data)

    # -- egress -------------------------------------------------------------

    def to_list_of_dicts(self) -> list[dict[str, Any]]:
        """Reference: DirectDataTable.toJavaMapList (DirectDataTable.scala:27-38)."""
        return [row.asDict(recursive=True) for row in self.data]

    def to_local_iterator(self):
        """Pull-based row egress (reference result contract:
        ``Iterator[InternalRow]``, DirectPlan.scala:81-83) — yields one
        dict per row with the same coercion as :meth:`to_list_of_dicts`.
        This table is already materialized; for larger-than-driver
        results use ``Engine.sql_iterator``, which streams batches from
        the executors without ever holding the full result."""
        for row in self.data:
            yield row.asDict(recursive=True)

    def to_dataframe(self, spark: SparkSession) -> DataFrame:
        """Bind the rows as an in-plan ``LocalRelation`` built from Arrow.

        Each row goes through the steps ``createDataFrame(list[Row])``
        runs — its verifier (nullability, type, integer range), its
        converter (structs to tuples, values of STRING fields to ``str``)
        and ``schema.toInternal`` — so the values are the ones that path
        stores.  TIMESTAMP columns travel as ``timestamp[us, tz=UTC]``
        holding those UTC microseconds: a naive datetime keeps meaning
        process-local time.  Arrow rejects a DECIMAL that would lose
        digits (``ValueError``)."""
        verify = _make_type_verifier(self.schema)
        convert = _create_converter(self.schema)
        rows = []
        for row in self.data:
            verify(row)
            rows.append(self.schema.toInternal(convert(row)))
        arrow_schema = to_arrow_schema(self.schema)
        columns = [
            pa.array([row[i] for row in rows], type=field.type)
            for i, field in enumerate(arrow_schema)
        ]
        table = pa.Table.from_arrays(columns, schema=arrow_schema)
        return spark.createDataFrame(table, self.schema)

    # -- dunder -------------------------------------------------------------

    def __len__(self) -> int:
        return len(self.data)

    def __iter__(self):
        return iter(self.data)

    def __repr__(self) -> str:
        return f"DataTable({self.schema.simpleString()}, {len(self.data)} rows)"
