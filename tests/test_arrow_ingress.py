"""Driver-local ingress binds the Arrow-built rows as a row-free leaf.

The reference binds registered rows in-plan (``LocalRelation(schema.
toAttributes, rows)``, DirectSparkSession.scala:132-135) and keeps plans
over them cacheable by holding the rows behind a name
(NamedLocalRelation.scala:25-44).  ``register_table`` builds the rows in
the JVM from Arrow, with no Python worker in the executed lineage, and
binds them as a ``LogicalRDD`` that carries the statistics a
``LocalRelation`` of the same rows reports, so Catalyst never walks them.
These tests pin that leaf and that the values, errors and empty-input
behaviour match the ``createDataFrame(list[Row])`` path it replaced.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from contextlib import contextmanager
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.sql import Row, types as T
from pyspark.sql.types import VariantVal

from direct_spark_sql_spark.datatable import DataTable
from direct_spark_sql_spark.session import _plan_facts

#: Whether the engine drains in-memory results on the calling thread;
#: ``tests/test_facade_job_path.py`` and the ``collect()`` fallback without
#: the helper turn it off.
DRAINS = True


@contextmanager
def _process_tz(tz: str | None):
    """Run the body with the process TZ set to ``tz`` (None: unchanged)."""
    if tz is None:
        yield
        return
    old = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def _leaf_classes(jplan) -> list[str]:
    leaves = jplan.collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def test_registered_rows_lineage_has_no_python_rdd(engine):
    engine.register_table(
        "ai_lineage", [{"a": i, "s": str(i)} for i in range(100)], "a INT, s STRING"
    )
    qe = engine.spark.table("ai_lineage")._jdf.queryExecution()
    lineage = qe.executedPlan().execute().toDebugString()
    assert "PythonRDD" not in lineage, lineage


def _stats(jplan) -> tuple[int, int]:
    stats = jplan.stats()
    return stats.sizeInBytes(), stats.rowCount().get()


def test_registered_rows_bind_a_row_free_leaf(engine):
    """The analyzed leaf is an in-memory ``LogicalRDD`` whose statistics are
    the ``LocalRelation``'s of the same rows, and no rows enter the
    optimized plan (the lineage is pinned above)."""
    rows = DataTable.from_list_of_dicts(
        [{"a": i, "s": "x" * i} for i in range(5)], "a BIGINT, s STRING"
    )
    engine.register_table("ai_leaf", rows)
    df = engine.spark.sql("SELECT sum(a) AS s FROM ai_leaf")
    qe = df._jdf.queryExecution()
    assert _leaf_classes(qe.analyzed()) == ["LogicalRDD"]
    assert _plan_facts(df).in_memory is True
    local = rows.to_dataframe(engine.spark)._jdf.logicalPlan()
    assert local.nodeName() == "LocalRelation"
    assert _stats(qe.analyzed().collectLeaves().head()) == _stats(local)
    projected = engine.spark.sql("SELECT a + 1 AS b FROM ai_leaf WHERE a > 1")
    assert _leaf_classes(projected._jdf.queryExecution().optimizedPlan()) == [
        "LogicalRDD"
    ]


def test_rows_over_the_local_relation_threshold_bind_the_same_leaf(engine):
    """Above ``spark.sql.execution.arrow.localRelationThreshold`` the Arrow
    ingress is a ``LogicalRDD`` with default statistics; ``register_table``
    binds it as the same leaf, with the same statistics and results."""
    child = engine.new_session()
    child.spark.conf.set("spark.sql.execution.arrow.localRelationThreshold", "1024")
    rows = [{"k": i % 4, "s": f"row-{i}"} for i in range(3000)]
    schema = "k INT, s STRING"
    table = DataTable.from_list_of_dicts(rows, schema)
    assert table.to_dataframe(child.spark)._jdf.logicalPlan().nodeName() == "LogicalRDD"
    engine.register_table("ai_big", rows, schema)
    child.register_table("ai_big", rows, schema)
    leaves = [
        e.spark.table("ai_big")._jdf.queryExecution().analyzed().collectLeaves().head()
        for e in (engine, child)
    ]
    assert [leaf.nodeName() for leaf in leaves] == ["LogicalRDD", "LogicalRDD"]
    local = table.to_dataframe(engine.spark)._jdf.logicalPlan()
    assert _stats(leaves[1]) == _stats(leaves[0]) == _stats(local)
    for sql in (
        "SELECT k, count(*) AS n, max(s) AS m FROM ai_big GROUP BY k ORDER BY k",
        "SELECT s FROM ai_big WHERE k = 3 ORDER BY s",
        "SELECT count(*) AS n FROM ai_big a JOIN ai_big b ON a.s = b.s",
    ):
        want = engine.sql_directly(sql)
        got = child.sql_directly(sql)
        assert got.arrow.equals(want.arrow), sql


def test_one_slice_aggregate_plans_no_exchange(engine):
    engine.register_table("ai_agg", [{"k": i % 3, "v": i} for i in range(30)], "k INT, v INT")
    plan = engine.dataframe("SELECT k, sum(v) AS s FROM ai_agg GROUP BY k")
    physical = plan._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in physical and "Exchange" not in physical, physical


def test_large_registration_scans_in_two_partitions(engine):
    engine.register_table("ai_100k", [{"a": i} for i in range(100_000)], "a INT")
    scan = engine.spark.table("ai_100k")._jdf.queryExecution().toRdd()
    parallelism = engine.spark.sparkContext.defaultParallelism
    assert scan.getNumPartitions() == min(parallelism, 2)
    t = engine.sql_directly("SELECT count(*) AS n, sum(a) AS s FROM ai_100k")
    assert t.to_list_of_dicts() == [{"n": 100_000, "s": 4_999_950_000}]


MATRIX_SCHEMA = (
    "id INT, i INT, b BIGINT, sh SHORT, by BYTE, s STRING, bo BOOLEAN, "
    "d DOUBLE, f FLOAT, dec DECIMAL(12,3), dt DATE, ts TIMESTAMP, "
    "ntz TIMESTAMP_NTZ, bin BINARY, arr ARRAY<INT>, m MAP<STRING,DOUBLE>, "
    "st STRUCT<x: INT, tss: ARRAY<TIMESTAMP>>, iv INTERVAL DAY TO SECOND, "
    "v VOID"
)

_EDT = dt.timezone(dt.timedelta(hours=-4))


def _matrix_rows() -> list[Row]:
    names = T.StructType.fromDDL(MATRIX_SCHEMA).names

    def row(**kw):
        return Row(**{f: kw.get(f) for f in names})

    # DST edges: 2021-03-14 02:30 falls in New York's spring-forward gap,
    # 2021-11-07 01:30 in its ambiguous fall-back hour; ids 2 and 3 are
    # tz-aware instants at the same edges.
    return [
        row(id=0, i=-(2**31), b=2**63 - 1, sh=-(2**15), by=127, s="héllo",
            bo=True, d=-1.25e300, f=1.5, dec=Decimal("-123456789.125"),
            dt=dt.date(1900, 1, 1), ts=dt.datetime(2021, 3, 14, 2, 30),
            ntz=dt.datetime(2021, 3, 14, 2, 30), bin=b"\x00\xff",
            arr=[1, None, 3], m={"k": 1.0, "n": None},
            st=Row(x=1, tss=[dt.datetime(2021, 11, 7, 1, 30), None]),
            iv=dt.timedelta(days=-3, microseconds=7)),
        row(id=1, s="", bo=False, d=0.0, f=-0.0,
            ts=dt.datetime(2021, 11, 7, 1, 30),
            ntz=dt.datetime(2021, 11, 7, 1, 30, 0, 999_999), bin=b"",
            arr=[], m={}, st=Row(x=None, tss=[]), iv=dt.timedelta(0)),
        row(id=2, ts=dt.datetime(2021, 3, 14, 6, 59, 59, tzinfo=dt.timezone.utc),
            st=Row(x=2, tss=[dt.datetime(2021, 3, 14, 3, 0, tzinfo=_EDT)])),
        row(id=3, ts=dt.datetime(2021, 11, 7, 1, 30, tzinfo=_EDT),
            dt=dt.date(2038, 1, 19), dec=Decimal("0.001")),
        row(id=4),  # every field NULL but the key
    ]


@pytest.mark.parametrize("tz", [None, "America/New_York"])
def test_type_matrix_matches_row_path(engine, tz):
    with _process_tz(tz):
        table = DataTable(T.StructType.fromDDL(MATRIX_SCHEMA), _matrix_rows())
        engine.register_table("ai_matrix", table)
        got = engine.sql_directly("SELECT * FROM ai_matrix ORDER BY id").data
        want = engine.spark.createDataFrame(table.data, table.schema).collect()
    assert got == want


@pytest.mark.parametrize("before", [dt.datetime(2021, 12, 1), dt.datetime(2021, 7, 1)])
def test_repeated_local_hour_ingests_its_first_occurrence(before):
    """A naive 01:30 on 2021-11-07 with ``fold=0`` is the first, EDT,
    occurrence in New York, whatever row came before it: ``time.mktime``
    answered a repeated hour by its previous call."""
    with _process_tz("America/New_York"):
        table = DataTable(T.StructType([T.StructField("ts", T.TimestampType())]),
                          [Row(ts=before), Row(ts=dt.datetime(2021, 11, 7, 1, 30))])
    micros = table.arrow.column("ts").cast(pa.int64()).to_pylist()
    assert micros[1] == 1636263000_000000  # 05:30 UTC


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([{"a": None}], "a INT NOT NULL"),
        ([{"a": 2**31}], "a INT"),
        ([{"d": "1.234"}], "d DECIMAL(10,2)"),
    ],
    ids=["null-in-not-null", "int-out-of-range", "decimal-loses-digits"],
)
def test_invalid_rows_raise_value_error(engine, rows, schema):
    with pytest.raises(ValueError):
        engine.register_table("ai_invalid", rows, schema)


def test_empty_list_registers_zero_rows_with_schema(engine):
    schema = "a INT, s STRING, ts TIMESTAMP, m MAP<STRING,INT>"
    engine.register_table("ai_empty", [], schema)
    t = engine.sql_directly("SELECT * FROM ai_empty")
    assert len(t) == 0
    assert t.schema == T.StructType.fromDDL(schema)


def test_epoch_millis_timestamp_is_utc_under_local_tz(engine):
    with _process_tz("America/New_York"):
        engine.register_table(
            "ai_epoch", [{"ts": 0}, {"ts": "86400000"}], "ts TIMESTAMP"
        )
        t = engine.sql_directly("SELECT unix_millis(ts) AS ms FROM ai_epoch ORDER BY ms")
    assert t.to_list_of_dicts() == [{"ms": 0}, {"ms": 86_400_000}]


# -- egress: sql_directly(q).data is what spark.sql(q).collect() gives ------


def _same(got, want) -> bool:
    """Equal value for value, with equal value types and ``fold``."""
    if type(got) is not type(want):
        return False
    if isinstance(got, VariantVal):  # compares by identity
        return _same(got.value, want.value) and _same(got.metadata, want.metadata)
    if isinstance(got, dt.datetime) and got.fold != want.fold:
        return False
    if isinstance(got, (tuple, list)):
        return (
            len(got) == len(want)
            and getattr(got, "__fields__", None) == getattr(want, "__fields__", None)
            and all(_same(g, w) for g, w in zip(got, want))
        )
    if isinstance(got, dict):
        return got.keys() == want.keys() and all(_same(got[k], want[k]) for k in got)
    return got == want


def _assert_egress_parity(engine, sql, direct):
    """``direct``: whether the result is drained on the calling thread
    where the engine drains (``DRAINS``)."""
    got = engine.sql_directly(sql).data
    assert engine.last_metrics()["direct"] is (direct and DRAINS), sql
    want = engine.spark.sql(sql).collect()
    assert _same(got, want), (sql, got, want)


@pytest.mark.parametrize("tz", [None, "America/New_York"])
def test_type_matrix_egress_matches_collect(engine, tz):
    with _process_tz(tz):
        engine.register_table(
            "eg_matrix", DataTable(T.StructType.fromDDL(MATRIX_SCHEMA), _matrix_rows())
        )
        sql = "SELECT * FROM eg_matrix ORDER BY id"
        _assert_egress_parity(engine, sql, True)
        _assert_egress_parity(engine, sql + " LIMIT 4", True)


def test_repeated_dst_hour_keeps_fold(engine):
    """The second 01:30 of 2021-11-07 in New York is ``fold=1``."""
    with _process_tz("America/New_York"):
        engine.register_table(
            "eg_fold",
            [{"ts": ms} for ms in (1636263000000, 1636266600000, 1636270200000)],
            "ts TIMESTAMP",
        )
        sql = "SELECT ts FROM eg_fold ORDER BY ts"
        _assert_egress_parity(engine, sql, True)
        _assert_egress_parity(engine, sql + " LIMIT 2", True)
        got = engine.sql_directly(sql).data
    assert [(r.ts.hour, r.ts.fold) for r in got] == [(1, 0), (1, 1), (2, 0)]


@pytest.mark.parametrize(
    "select",
    [
        "cast(concat('b', id) AS BINARY) AS b, array(cast('c' AS BINARY)) AS bs",
        "parse_json(concat('{\"x\": [', id, ']}')) AS v",
        "named_struct('a', id, 'a', id + 1) AS s",
        "id FROM eg_src WHERE id < 0",
    ],
    ids=["binary", "variant", "repeated-struct-field", "empty"],
)
def test_egress_matches_collect(engine, select):
    engine.register_table("eg_src", [{"id": i} for i in range(3)], "id INT")
    sql = f"SELECT {select}" if " FROM " in select else f"SELECT {select} FROM eg_src"
    _assert_egress_parity(engine, sql, True)
    _assert_egress_parity(engine, sql + " LIMIT 2", True)


@pytest.mark.parametrize("where", ["", " WHERE id < 0"], ids=["matrix", "empty"])
def test_materialized_type_matrix_matches_its_statement(engine, where):
    """A materialized view reads back what its statement answers, value for
    value and type for type, also with no rows."""
    engine.register_table(
        "eg_mv_src", DataTable(T.StructType.fromDDL(MATRIX_SCHEMA), _matrix_rows())
    )
    sql = f"SELECT * FROM eg_mv_src{where} ORDER BY id"
    want = engine.sql_directly(sql)
    assert engine.execute_and_register_temp_view(sql, "eg_mv") == len(want)
    got = engine.temp_view("eg_mv")
    assert got.schema == want.schema
    assert _same(sorted(got.data, key=lambda r: r.id), want.data)


@pytest.mark.parametrize("sql", ["SET spark.sql.ansi.enabled", "SHOW TABLES"])
def test_command_egress_matches_collect(engine, sql):
    _assert_egress_parity(engine, sql, False)


@pytest.mark.parametrize(
    "sql, counts",
    [
        ("SELECT id FROM eg_r8 LIMIT 20", (1, 1, 1)),
        ("SELECT id FROM eg_r8 ORDER BY id DESC LIMIT 20", (1, 1, 8)),
        ("SET spark.sql.ansi.enabled", (0, 0, 0)),
    ],
    ids=["limit", "order-by-limit", "set"],
)
def test_specialized_collects_keep_their_jobs(engine, sql, counts):
    """A root CollectLimit or TakeOrderedAndProject over a view of many
    partitions, and a command, are fetched as ``collect()`` fetches them,
    through ``executeCollect``: the Arrow batch job would add a stage and a
    job's tasks."""
    engine.register_table("eg_r8", engine.spark.range(0, 1000, 1, 8))
    engine.sql_directly(sql)
    m = engine.last_metrics()
    assert (m["jobs"], m["stages_run"], m["tasks"]) == counts
