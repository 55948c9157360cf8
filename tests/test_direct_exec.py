"""Direct execution: ``sql_directly`` drains a single-partition in-memory
plan on the calling thread, without a Spark job (``direct.py``), and gives
what the helper's job branch gives, and what ``collect()`` gives.

Both branches are driven on the same DataFrame through a ``DirectFetch``:
with ``direct`` set (drained) and unset (a job).  A result up to 64 KiB
returns inline, a larger one on a socket; both are checked.
``tests/test_facade_job_path.py`` runs the facade suites again on the job
branch.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import types as T

import direct_spark_sql_spark.direct as direct_mod
import direct_spark_sql_spark.session as session_mod
import tests.test_arrow_ingress
from direct_spark_sql_spark.datatable import DataTable
from direct_spark_sql_spark.direct import DirectFetch
from direct_spark_sql_spark.session import Engine
from tests.test_arrow_ingress import (
    MATRIX_SCHEMA,
    _assert_egress_parity,
    _matrix_rows,
    _process_tz,
    _same,
)


def _jvm(engine):
    return engine.spark.sparkContext._jvm


def _next_job_id(engine) -> int:
    # the scheduler's AtomicInteger; py4j hands a Number over as its value
    return engine.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _fetch(engine, df, direct: bool) -> DataTable:
    """``df``'s result through the helper; drained on the calling thread
    exactly when ``direct``."""
    fetch = DirectFetch(engine._direct)
    table = DataTable(df.schema, fetch(df, "dx-test", direct))
    assert fetch.ran is direct
    return table


def _direct(engine, df) -> DataTable:
    return _fetch(engine, df, True)


def _both(engine, sql) -> tuple[DataTable, DataTable]:
    """``sql``'s result fetched direct, then on the job branch, then direct
    again, all from one DataFrame."""
    df = engine.dataframe(sql)
    direct = _direct(engine, df)
    job = _fetch(engine, df, False)
    assert _direct(engine, df).arrow.equals(direct.arrow), sql
    return direct, job


def _assert_parity(engine, sql) -> DataTable:
    direct, job = _both(engine, sql)
    assert direct.arrow.schema == job.arrow.schema, sql
    assert direct.arrow.equals(job.arrow), (sql, direct.arrow, job.arrow)
    assert _same(direct.data, engine.spark.sql(sql).collect()), sql
    return direct


@pytest.fixture()
def socket_reads(monkeypatch) -> list[int]:
    """One entry per direct result read from a socket rather than inline."""
    reads: list[int] = []
    load = direct_mod._load_from_socket

    def counting(*args):
        reads.append(1)
        return load(*args)

    monkeypatch.setattr(direct_mod, "_load_from_socket", counting)
    return reads


# -- parity -------------------------------------------------------------------


@pytest.mark.parametrize("tz", [None, "America/New_York"])
def test_type_matrix_direct_matches_job(engine, tz, socket_reads):
    with _process_tz(tz):
        engine.register_table(
            "dx_matrix", DataTable(T.StructType.fromDDL(MATRIX_SCHEMA), _matrix_rows())
        )
        _assert_parity(engine, "SELECT * FROM dx_matrix ORDER BY id")
    assert socket_reads == []


@pytest.mark.parametrize("tz", [None, "America/New_York"])
def test_type_matrix_on_the_socket_matches_job(engine, tz, socket_reads):
    """The matrix repeated past 64 KiB is served on the socket, by both
    branches."""
    with _process_tz(tz):
        engine.register_table(
            "dx_matrix", DataTable(T.StructType.fromDDL(MATRIX_SCHEMA), _matrix_rows())
        )
        engine.register_table("dx_copies", [{"c": c} for c in range(400)], "c INT")
        got = _assert_parity(
            engine, "SELECT m.*, c FROM dx_matrix m CROSS JOIN dx_copies ORDER BY c, id"
        )
    assert len(got) == 2000 and len(socket_reads) == 3


@pytest.mark.parametrize(
    "rows, on_socket", [(7_600, False), (8_400, True)], ids=["under-64KiB", "over-64KiB"]
)
def test_results_either_side_of_64_kib_match_job(engine, rows, on_socket, socket_reads):
    """A BIGINT column's Arrow frames grow by 8 bytes a row: 7 600 rows
    are about 62 KB and return inline, 8 400 rows about 69 KB and are
    served on the socket, by both branches."""
    engine.register_table("dx_pad", [{"id": i} for i in range(9_000)], "id BIGINT")
    got = _assert_parity(engine, f"SELECT id FROM dx_pad WHERE id < {rows}")
    assert len(got) == rows
    assert socket_reads == ([1, 1, 1] if on_socket else [])


@pytest.mark.parametrize("cut", [1, 4, 9], ids=["in-end-marker", "end-marker", "in-batch"])
def test_truncated_inline_payload_raises(engine, cut):
    engine.register_table("dx_cut", [{"a": i} for i in range(10)], "a INT")
    df = engine.dataframe("SELECT a FROM dx_cut")
    helper = engine._direct

    class Truncating:
        def fetch(self, jdf, tag, direct):
            payload = helper.fetch(jdf, tag, direct)
            assert not payload[0] & direct_mod._ON_SOCKET
            return payload[:-cut]

    with pytest.raises(ConnectionError):
        DirectFetch(Truncating())(df, "dx-test", True)


def test_repeated_dst_hour_direct_matches_job(engine):
    with _process_tz("America/New_York"):
        engine.register_table(
            "dx_fold",
            [{"ts": ms} for ms in (1636263000000, 1636266600000, 1636270200000)],
            "ts TIMESTAMP",
        )
        got = _assert_parity(engine, "SELECT ts FROM dx_fold ORDER BY ts").data
    assert [(r.ts.hour, r.ts.fold) for r in got] == [(1, 0), (1, 1), (2, 0)]


@pytest.mark.parametrize(
    "select",
    [
        "CAST(id AS DECIMAL(20,4)) / 3 AS d, sum(id) OVER () AS w",
        "cast(concat('b', id) AS BINARY) AS b, array(cast('c' AS BINARY)) AS bs",
        "parse_json(concat('{\"x\": [', id, ']}')) AS v",
        "id FROM dx_src WHERE id < 0",
    ],
    ids=["decimal", "binary", "variant", "empty"],
)
def test_value_types_direct_match_job(engine, select):
    engine.register_table("dx_src", [{"id": i} for i in range(3)], "id INT")
    sql = f"SELECT {select}" if " FROM " in select else f"SELECT {select} FROM dx_src"
    _assert_parity(engine, sql)


def _register_pid_views(engine):
    engine.register_table(
        "dx_pid", [{"id": i, "k": i % 3} for i in range(50)], "id INT, k INT"
    )
    engine.register_table(
        "dx_tags", [{"k": k, "tag": f"t{k}"} for k in range(3)], "k INT, tag STRING"
    )


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT spark_partition_id() AS p, monotonically_increasing_id() AS m, id "
        "FROM dx_pid",
        "SELECT spark_partition_id() AS p, monotonically_increasing_id() AS m, "
        "d.id, t.tag FROM dx_pid d JOIN dx_tags t ON d.k = t.k",
        "SELECT spark_partition_id() AS p, monotonically_increasing_id() AS m, id "
        "FROM dx_pid WHERE id < 0",
    ],
    ids=["view", "broadcast-join", "no-rows"],
)
def test_partition_ids_match_job(engine, sql):
    """The drained partition has the index a job's only task has."""
    _register_pid_views(engine)
    got = _assert_parity(engine, sql)
    assert {r.p for r in got.data} <= {0}
    if "JOIN" in sql:
        plan = engine.dataframe(sql)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan


def test_join_of_registered_views_broadcasts_without_a_shuffle(engine):
    """Registered views carry their rows' statistics and one partition, so
    a join of two broadcasts the small side and aggregates without an
    Exchange, and the call runs direct."""
    _register_pid_views(engine)
    engine.sql_directly(
        "SELECT t.tag, sum(d.id) AS s FROM dx_pid d JOIN dx_tags t ON d.k = t.k "
        "GROUP BY t.tag"
    )
    m = engine.last_metrics()
    operators = {n["operator"] for n in m["operators"]}
    assert "BroadcastHashJoin" in operators and "Exchange" not in operators, operators
    assert m["direct"] is True


@pytest.mark.parametrize(
    "sql, want",
    [
        ("SELECT count(*) AS n FROM dx_empty", [(0,)]),
        ("SELECT a, count(*) AS n FROM dx_empty GROUP BY a", []),
    ],
    ids=["count", "group-by"],
)
def test_zero_row_view_direct_matches_job(engine, sql, want):
    engine.register_table("dx_empty", [], "a INT")
    assert [tuple(r) for r in _assert_parity(engine, sql).data] == want


@pytest.mark.parametrize("expr", ["10 DIV (a - a)", "raise_error('boom')"])
def test_runtime_error_raises_what_the_job_raises(engine, expr):
    engine.register_table("dx_err", [{"a": 1}, {"a": 2}], "a INT")
    df = engine.dataframe(f"SELECT {expr} AS x FROM dx_err")
    first_job = _next_job_id(engine)
    with pytest.raises(PySparkException) as direct_err:
        _direct(engine, df)
    assert _next_job_id(engine) == first_job  # the error came from the drain
    with pytest.raises(PySparkException) as job_err:
        _fetch(engine, df, False)
    assert type(direct_err.value) is type(job_err.value)
    assert direct_err.value.getCondition() == job_err.value.getCondition()


def test_failed_drain_releases_task_state(engine):
    """A drain that fails midway leaves no task context on the thread, no
    task registered with the block manager, no block read lock and no
    execution memory."""
    engine.register_table(
        "dx_rel", [{"k": i % 7, "v": i} for i in range(2000)], "k INT, v INT"
    )
    engine.execute_and_register_temp_view("SELECT * FROM dx_rel WHERE v >= 0", "dx_mat")
    jvm = _jvm(engine)
    env = jvm.org.apache.spark.SparkEnv.get()
    locks = env.blockManager().blockInfoManager()
    registered = locks.getNumberOfMapEntries()
    for sql in (
        "SELECT 10 DIV (k - k) AS x FROM dx_mat",
        "SELECT k, sum(v) AS s FROM dx_mat GROUP BY k "
        "HAVING raise_error('boom') IS NULL",
    ):
        with pytest.raises(PySparkException):
            _direct(engine, engine.dataframe(sql))
        assert jvm.org.apache.spark.TaskContext.get() is None
        # tasks of the materializing job may still be unregistering
        assert locks.getNumberOfMapEntries() <= registered
        entries = locks.entries()
        while entries.hasNext():
            assert entries.next()._2().readerCount() == 0
        assert env.memoryManager().executionMemoryUsed() == 0
    # the same plans still run as a job, and direct once the error is gone
    ok = "SELECT k, sum(v) AS s FROM dx_mat GROUP BY k ORDER BY k"
    assert len(_assert_parity(engine, ok)) == 7


# -- the gate -----------------------------------------------------------------


def test_ineligible_plans_run_as_jobs(engine):
    """A shuffle, a Python UDF and a multi-partition final RDD keep the job
    path, with the right answer."""
    engine.spark.udf.register("dx_plus1", lambda x: x + 1, "int")
    engine.register_table("dx_wide", engine.spark.range(0, 100, 1, 4))
    engine.register_table("dx_one", [{"a": 1}, {"a": 2}], "a INT")
    engine.result_cache_enabled = False
    try:
        cases = {
            "SELECT id % 3 AS k, count(*) AS n FROM dx_wide GROUP BY 1 ORDER BY 1":
                [(0, 34), (1, 33), (2, 33)],
            "SELECT dx_plus1(a) AS b FROM dx_one ORDER BY b": [(2,), (3,)],
            "SELECT sum(id) AS s FROM dx_wide WHERE id < 10": [(45,)],
        }
        for sql, want in cases.items():
            assert [tuple(r) for r in engine.sql_directly(sql).data] == want, sql
            m = engine.last_metrics()
            assert m["direct"] is False and m["jobs"] >= 1, (sql, m["jobs"])
    finally:
        engine.result_cache_enabled = True


# -- threads ------------------------------------------------------------------


def _run_threads(target, n=2):
    errors: list[BaseException] = []

    def run(i):
        try:
            target(i)
        except BaseException as e:  # noqa: BLE001 -- reported below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert not any(th.is_alive() for th in threads)
    assert errors == []


def _sum_by_key(eng, view):
    sql = f"SELECT k, sum(v) AS s FROM {view} GROUP BY k ORDER BY k"
    rows = [tuple(r) for r in eng.sql_directly(sql).data]
    assert eng.last_metrics()["direct"] is True
    return rows


def test_threads_on_own_sessions(engine):
    def work(i):
        eng = engine.new_session()
        eng.result_cache_enabled = False
        rows = [{"k": j % 4, "v": j * (i + 1)} for j in range(400)]
        eng.register_table("dx_mine", rows, "k INT, v INT")
        want = [(k, sum(r["v"] for r in rows if r["k"] == k)) for k in range(4)]
        for _ in range(10):
            assert _sum_by_key(eng, "dx_mine") == want
        assert _jvm(eng).org.apache.spark.TaskContext.get() is None

    _run_threads(work)


def test_threads_sharing_one_engine(engine):
    """Two threads drain the same cached plan at once: each drain runs its
    own copy of the plan's RDD."""
    eng = engine.new_session()
    eng.result_cache_enabled = False
    rows = [{"k": j % 5, "v": j} for j in range(1000)]
    eng.register_table("dx_shared", rows, "k INT, v INT")
    want = [(k, sum(r["v"] for r in rows if r["k"] == k)) for k in range(5)]

    def work(_):
        for _ in range(10):
            assert _sum_by_key(eng, "dx_shared") == want
        assert _jvm(eng).org.apache.spark.TaskContext.get() is None

    _run_threads(work)


# -- last_metrics ---------------------------------------------------------------


def test_last_metrics_of_a_direct_call(engine):
    engine.register_table(
        "dx_m", [{"k": i % 3, "v": i} for i in range(90)], "k INT, v INT"
    )
    engine.sql_directly("SELECT k, sum(v) AS s FROM dx_m GROUP BY k")
    m = engine.last_metrics()
    assert m["direct"] is True and m["result_cache_hit"] is False
    assert (m["jobs"], m["stages_run"], m["tasks"]) == (0, 0, 0)
    aggs = [n["metrics"] for n in m["operators"] if n["operator"] == "HashAggregate"]
    # the final aggregate emits the 3 groups; the drain updated the plan's metrics
    assert aggs and aggs[0]["numOutputRows"] == 3
    # a hit reports the materializing call's flag
    engine.sql_directly("SELECT k, sum(v) AS s FROM dx_m GROUP BY k")
    hit = engine.last_metrics()
    assert hit["result_cache_hit"] is True and hit["direct"] is True


def test_direct_join_counts_only_its_broadcast_job(engine):
    _register_pid_views(engine)
    engine.sql_directly(
        "SELECT t.tag, count(*) AS n FROM dx_pid d JOIN dx_tags t ON d.k = t.k "
        "GROUP BY t.tag"
    )
    m = engine.last_metrics()
    assert m["direct"] is True
    assert (m["jobs"], m["stages_run"], m["tasks"]) == (1, 1, 1)


def _no_rollup(monkeypatch):
    """Fail any read of the status store, which drains the listener bus."""

    def no_rollup(sc, tag):
        raise AssertionError("a call without jobs read the status store")

    monkeypatch.setattr(session_mod, "_stage_rollup", no_rollup)


def test_direct_call_without_jobs_skips_the_rollup(engine, monkeypatch):
    _no_rollup(monkeypatch)
    engine.register_table("dx_nr", [{"a": i} for i in range(10)], "a INT")
    assert engine.sql_directly("SELECT sum(a) AS s FROM dx_nr").data[0].s == 45
    assert engine.last_metrics()["jobs"] == 0


# -- limits, top-k and commands ---------------------------------------------------


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT id, s FROM dx_lim LIMIT 20",
        "SELECT id, s FROM dx_lim ORDER BY id DESC LIMIT 20",
        "SELECT id, s FROM dx_lim LIMIT 20 OFFSET 7",
        "SELECT id, s FROM dx_lim ORDER BY id LIMIT 5 OFFSET 3",
        "SELECT id, k FROM dx_lim ORDER BY k LIMIT 20",
    ],
    ids=["limit", "order-by-limit", "limit-offset", "order-by-limit-offset", "top-k-ties"],
)
def test_limits_over_one_slice_drain_direct(engine, monkeypatch, sql):
    """A root CollectLimit or TakeOrderedAndProject over a one-slice view
    drains on the calling thread, and answers what ``collect()`` answers,
    in its order, also where ``k`` ties across the cut."""
    engine.register_table(
        "dx_lim", [{"id": i, "k": i % 3, "s": f"r{i}"} for i in range(2_000)],
        "id BIGINT, k INT, s STRING",
    )
    _no_rollup(monkeypatch)
    got = engine.sql_directly(sql).data
    m = engine.last_metrics()
    assert m["direct"] is True and m["jobs"] == 0, sql
    assert _same(got, engine.spark.sql(sql).collect()), sql


@pytest.mark.parametrize("sql", ["SET spark.sql.ansi.enabled", "SHOW TABLES"])
def test_commands_run_without_jobs_or_rollup(engine, monkeypatch, sql):
    _no_rollup(monkeypatch)
    got = engine.sql_directly(sql).data
    m = engine.last_metrics()
    assert m["direct"] is False and m["jobs"] == 0, sql
    assert _same(got, engine.spark.sql(sql).collect()), sql


def test_job_branch_replay_is_one_round_trip(engine, monkeypatch):
    """A cached parquet aggregate runs as a job from one py4j command sent
    by the calling thread; py4j's finalizer thread sends its own."""
    from tests.conftest import SF_DIR

    sql = (
        f"SELECT l_returnflag, count(*) AS n FROM parquet.`{SF_DIR}/lineitem.parquet` "
        "GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    want = [tuple(r) for r in engine.sql_directly(sql).data]
    client = engine.spark.sparkContext._gateway._gateway_client
    send, caller, sent = client.send_command, threading.get_ident(), []

    def counting(command, *args, **kwargs):
        if threading.get_ident() == caller:
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    got = [tuple(r) for r in engine.sql_directly(sql).data]
    assert len(sent) == 1, sent
    monkeypatch.undo()
    assert got == want
    m = engine.last_metrics()
    assert m["direct"] is False and m["jobs"] >= 1


# -- without the helper -----------------------------------------------------------


@pytest.fixture()
def no_helper(spark, monkeypatch):
    """An engine without the helper, as where no JDK builds its jar: every
    result comes from ``DataTable.from_dataframe``'s ``collect()``."""
    eng = Engine(spark.newSession())
    eng._direct = None
    monkeypatch.setattr(tests.test_arrow_ingress, "DRAINS", False)
    return eng


@pytest.mark.parametrize("tz", [None, "America/New_York"])
def test_without_the_helper_results_match_collect(no_helper, tz):
    with _process_tz(tz):
        no_helper.register_table(
            "nh_matrix", DataTable(T.StructType.fromDDL(MATRIX_SCHEMA), _matrix_rows())
        )
        sql = "SELECT * FROM nh_matrix ORDER BY id"
        _assert_egress_parity(no_helper, sql, True)
        _assert_egress_parity(no_helper, sql + " LIMIT 4", True)
        _assert_egress_parity(no_helper, "SET spark.sql.ansi.enabled", False)


def test_without_the_helper_intervals_raise_from_collect(no_helper):
    """``collect()`` refuses a YEAR-MONTH INTERVAL before Arrow sees it."""
    from pyspark.errors import PySparkNotImplementedError

    with pytest.raises(PySparkNotImplementedError, match="NOT_IMPLEMENTED"):
        no_helper.sql_directly("SELECT INTERVAL '1' YEAR AS ym")
