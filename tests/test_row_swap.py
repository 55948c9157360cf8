"""Same-shape re-registration swaps a view's rows in place.

``register_table`` stores a view's rows in the driver's ``BlockManager``
behind one ``BlockRDD`` (session.py ``_RowView``).  Registering the same
name again with the same schema and slice count replaces the blocks and
keeps the cached plans whose re-execution reads them afresh, as the
reference's name-bound scan does (NamedLocalRelation.scala:25-44): those
whose nodes that keep a result across executions (a broadcast, a
subquery) read only other views.  Any other rebind drops them.  Every
answer here is checked against DuckDB over the rows of the version the
statement must read.
"""

from __future__ import annotations

import gc
import random
import sys
import threading
import time
from types import SimpleNamespace

import duckdb
import pandas as pd
import pytest

from direct_spark_sql_spark.datatable import DataTable
from direct_spark_sql_spark.session import (
    Engine,
    _block_manager,
    _each,
    _held_rdd_ids,
    _RowView,
)

SCHEMA = "id BIGINT, account INT, kind STRING, amount BIGINT, flagged BOOLEAN"
ACCOUNTS_SCHEMA = "account INT, tier STRING"

AGGREGATES = (
    "SELECT kind, count(*) AS n, sum(amount) AS cents FROM fresh GROUP BY kind",
    "SELECT a.tier, count(*) AS n, sum(f.amount) AS cents FROM fresh f "
    "JOIN accounts a ON f.account = a.account WHERE NOT f.flagged GROUP BY a.tier",
    "SELECT account % 7 AS h, count(DISTINCT account) AS accounts FROM fresh "
    "GROUP BY account % 7",
    "SELECT id, account, kind, amount FROM fresh WHERE amount >= 0",
)
SELF_JOIN = (
    "SELECT count(*) AS n, sum(a.amount - b.amount) AS d FROM fresh a "
    "JOIN fresh b ON a.id = b.id + 1 AND a.kind = b.kind"
)


def _batch(seed: int, n: int = 2000) -> list[dict]:
    rng = random.Random(seed)
    return [
        {
            "id": seed * 1_000_000 + i,
            "account": rng.randrange(40),
            "kind": rng.choice("abcd"),
            "amount": rng.randrange(-500, 10_000),
            "flagged": rng.random() < 0.1,
        }
        for i in range(n)
    ]


ACCOUNTS = [{"account": a, "tier": "gold" if a % 3 == 0 else "basic"} for a in range(40)]


def _oracle(rows: list[dict], sql: str, accounts: list[dict] = ACCOUNTS) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.register("fresh", pd.DataFrame(rows))
        con.register("accounts", pd.DataFrame(accounts))
        return sorted(con.execute(sql).fetchall())
    finally:
        con.close()


def _answer(eng: Engine, sql: str) -> list[tuple]:
    return sorted(tuple(r) for r in eng.sql_directly(sql).data)


@pytest.fixture()
def eng(spark):
    """An engine on its own session with no Spark-cached data: a swap needs
    an empty CacheManager, which other suites' ``.cache()`` calls fill."""
    spark.catalog.clearCache()
    e = Engine(spark.newSession())
    e.register_table("accounts", ACCOUNTS, ACCOUNTS_SCHEMA)
    yield e
    for name in list(e._row_views):
        e.sql_directly(f"DROP VIEW IF EXISTS {name}")


def test_swap_keeps_direct_plans_and_answers_new_rows(eng):
    """Every statement stays cached across a swap and replays as a
    plan-cache hit over the new rows, the join too: its broadcast holds
    only the unchanged ``accounts``."""
    v1, v2 = _batch(1), _batch(2)
    eng.register_table("fresh", v1, SCHEMA)
    view = eng._row_views["fresh"]
    for sql in AGGREGATES:
        assert _answer(eng, sql) == _oracle(v1, sql), sql
    kept0 = eng.cache_stats()["plans_kept"]
    eng.register_table("fresh", v2, SCHEMA)
    assert eng._row_views["fresh"] is view  # swapped in place
    assert eng.cache_stats()["plans_kept"] == kept0 + 4
    for sql in AGGREGATES:
        hits = eng.cache_stats()["hits"]
        assert _answer(eng, sql) == _oracle(v2, sql), sql
        assert eng.cache_stats()["hits"] == hits + 1, sql
        assert eng.last_metrics()["jobs"] == 0, sql


def test_kept_replay_is_one_round_trip(eng, monkeypatch):
    """After a swap each statement replays direct in one py4j command from
    the calling thread, and its result-cache hit sends none.  py4j's
    finalizer thread releases dead Java objects with commands of its own,
    which are not counted."""
    eng.register_table("fresh", _batch(48), SCHEMA)
    for sql in AGGREGATES:
        _answer(eng, sql)
    v2 = _batch(49)
    eng.register_table("fresh", v2, SCHEMA)
    client = eng.spark.sparkContext._gateway._gateway_client
    send, caller, sent = client.send_command, threading.get_ident(), []

    def counting(command, *args, **kwargs):
        if threading.get_ident() == caller:
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    for sql in AGGREGATES:
        sent.clear()
        replay = eng.sql_directly(sql)
        replay_commands = len(sent)
        eng.sql_directly(sql)
        assert (replay_commands, len(sent) - replay_commands) == (1, 0), (sql, sent)
        assert sorted(tuple(r) for r in replay.data) == _oracle(v2, sql), sql


def _replays(eng: Engine, sql: str) -> bool:
    """Whether the next call of ``sql`` is a plan-cache hit."""
    return eng._cache_key(sql) in eng._plan_cache


TIERS = [{"account": a, "tier": "platinum" if a % 2 else "basic"} for a in range(40)]


def test_swap_of_the_broadcast_side_drops_the_join(eng):
    """The join's broadcast holds the old ``accounts`` rows: swapping
    ``accounts`` drops the plan, and the join answers the new tiers."""
    sql = AGGREGATES[1]
    rows = _batch(40)
    eng.register_table("fresh", rows, SCHEMA)
    assert _answer(eng, sql) == _oracle(rows, sql)
    plan = eng.dataframe(sql)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    view = eng._row_views["accounts"]
    eng.register_table("accounts", TIERS, ACCOUNTS_SCHEMA)
    assert eng._row_views["accounts"] is view  # swapped in place
    assert not _replays(eng, sql)
    assert _answer(eng, sql) == _oracle(rows, sql, TIERS)
    eng.register_table("fresh", _batch(41), SCHEMA)
    assert _replays(eng, sql)
    assert _answer(eng, sql) == _oracle(_batch(41), sql, TIERS)


def test_swap_drops_a_self_join_that_broadcasts_the_view(eng):
    v1, v2 = _batch(42), _batch(43)
    eng.register_table("fresh", v1, SCHEMA)
    assert _answer(eng, SELF_JOIN) == _oracle(v1, SELF_JOIN)
    plan = eng.dataframe(SELF_JOIN)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    eng.register_table("fresh", v2, SCHEMA)
    assert not _replays(eng, SELF_JOIN)
    assert _answer(eng, SELF_JOIN) == _oracle(v2, SELF_JOIN)


def test_swap_keeps_a_subquery_over_an_unchanged_view(eng):
    """A scalar subquery keeps its result across executions: a plan whose
    subquery reads ``accounts`` stays across a swap of ``fresh``, and one
    whose subquery reads ``fresh`` drops."""
    over_accounts = (
        "SELECT kind, count(*) AS n, sum(amount) AS cents FROM fresh WHERE account < "
        "(SELECT max(account) FROM accounts WHERE tier = 'gold') GROUP BY kind"
    )
    over_fresh = (
        "SELECT tier, count(*) AS n FROM accounts "
        "WHERE account * 100 < (SELECT max(amount) FROM fresh) GROUP BY tier"
    )
    v1 = _batch(44)
    v2 = [dict(r, amount=r["amount"] // 4) for r in _batch(45)]
    eng.register_table("fresh", v1, SCHEMA)
    for sql in (over_accounts, over_fresh):
        assert _answer(eng, sql) == _oracle(v1, sql), sql
        plan = eng.dataframe(sql)._jdf.queryExecution().executedPlan().toString()
        assert "Subquery" in plan, plan
    eng.register_table("fresh", v2, SCHEMA)
    assert _replays(eng, over_accounts) and not _replays(eng, over_fresh)
    for sql in (over_accounts, over_fresh):
        assert _answer(eng, sql) == _oracle(v2, sql), sql
    assert _oracle(v1, over_fresh) != _oracle(v2, over_fresh)


def _find_node(plan, name: str):
    """The first node called ``name`` in a physical plan, looking inside
    AQE plans and query stages."""
    stack = [plan]
    while stack:
        p = stack.pop()
        node = p.nodeName()
        if node == name:
            return p
        if node == "AdaptiveSparkPlan":
            stack.append(p.executedPlan())
        elif "QueryStage" in node:
            stack.append(p.plan())
        stack.extend(_each(p.children()))
    raise AssertionError(f"no {name} in {plan.toString()}")


def test_reused_exchange_is_walked_through_its_child(eng):
    """The second broadcast of ``accounts`` reuses the first; the walk
    follows ``ReusedExchange.child()``, which ``children()`` omits."""
    sql = (
        "SELECT a.tier, b.tier AS tier2, count(*) AS n FROM fresh f "
        "JOIN accounts a ON f.account = a.account "
        "JOIN accounts b ON f.account + 1 = b.account GROUP BY a.tier, b.tier"
    )
    v1, v2 = _batch(46), _batch(47)
    eng.register_table("fresh", v1, SCHEMA)
    assert _answer(eng, sql) == _oracle(v1, sql)
    df = eng.dataframe(sql)
    accounts = {eng._row_views["accounts"].rdd_id}
    assert _held_rdd_ids(df) == accounts
    # walked alone, the reused exchange reaches the scan only through child()
    reused = _find_node(df._jdf.queryExecution().executedPlan(), "ReusedExchange")
    plan_only = SimpleNamespace(
        _jdf=SimpleNamespace(
            queryExecution=lambda: SimpleNamespace(executedPlan=lambda: reused)
        )
    )
    assert _held_rdd_ids(plan_only) == accounts
    eng.register_table("fresh", v2, SCHEMA)
    assert _replays(eng, sql)
    assert _answer(eng, sql) == _oracle(v2, sql)
    eng.register_table("accounts", TIERS, ACCOUNTS_SCHEMA)
    assert not _replays(eng, sql)
    assert _answer(eng, sql) == _oracle(v2, sql, TIERS)


def test_swap_drops_a_plan_that_broadcast_the_old_rows(eng):
    """A plan that broadcast the swapped view holds the old rows in its
    broadcast relation, also when a later replay launched no job, so it
    never stays cached: with results uncached, every call replays."""
    eng.result_cache_enabled = False
    big = [{"k": i % 10, "v": 1000} for i in range(4500)]
    eng.register_table("big", big, "k INT, v INT")
    sql = "SELECT sum(b.v * f.amount) AS s FROM big b JOIN fresh f ON b.k = f.account"
    v1 = [dict(r, account=r["account"] % 10) for r in _batch(3, 10)]
    v2 = [dict(r, account=r["account"] % 10, amount=r["amount"] * 1000) for r in v1]
    con = duckdb.connect()
    con.register("big", pd.DataFrame(big))
    try:
        for rows in (v1, v2, v1):
            eng.register_table("fresh", rows, SCHEMA)
            con.register("fresh", pd.DataFrame(rows))
            want = [tuple(int(x) for x in r) for r in con.execute(sql).fetchall()]
            for _ in range(2):  # the second call replays without a job
                assert _answer(eng, sql) == want
    finally:
        con.close()


def test_swap_rebinds_statistics_of_a_new_row_count(eng):
    """New analyses plan from the swapped rows' statistics: the leaf the
    name binds reports the new row count and the LocalRelation size."""
    for n in (5, 9, 9):
        eng.register_table("fresh", _batch(20, n), SCHEMA)
        leaf = eng.spark.table("fresh")._jdf.queryExecution().analyzed().collectLeaves().head()
        stats = leaf.stats()
        assert stats.rowCount().get() == n
        rows = DataTable.from_list_of_dicts(_batch(20, n), SCHEMA)
        local = rows.to_dataframe(eng.spark)._jdf.logicalPlan()
        assert stats.sizeInBytes() == local.stats().sizeInBytes()


@pytest.mark.parametrize("raw", ["replace", "drop"])
def test_swap_rebinds_a_name_the_raw_session_changed(eng, raw):
    """A statement on ``engine.spark`` bypasses the facade; a same-shape
    re-registration after it still binds the name to the new rows, and a
    plan cached over the other binding drops."""
    sql = AGGREGATES[0]
    eng.register_table("fresh", _batch(21, 5), SCHEMA)
    if raw == "replace":
        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW fresh AS SELECT 1L AS id, 1 AS account, "
            "'z' AS kind, 5L AS amount, false AS flagged"
        )
        eng.result_cache_enabled = False  # the next call replays the plan
        assert _answer(eng, sql) == [("z", 1, 5)]
    else:
        eng.spark.sql("DROP VIEW fresh")
    v2 = _batch(22, 5)
    eng.register_table("fresh", v2, SCHEMA)
    assert _answer(eng, sql) == _oracle(v2, sql)


@pytest.mark.parametrize("change", ["schema", "nullability", "slices", "cached", "dropped"])
def test_refused_swaps_rebind_and_answer_new_rows(eng, spark, change):
    """Each case that must not swap rebinds the name to new storage, and
    every statement answers the new rows."""
    v1 = _batch(4)
    eng.register_table("fresh", v1, SCHEMA)
    for sql in AGGREGATES:
        _answer(eng, sql)
    view = eng._row_views["fresh"]
    schema, v2 = SCHEMA, _batch(5)
    cached = None
    if change == "schema":
        schema = SCHEMA.replace("account INT", "account BIGINT")
    elif change == "nullability":
        schema = SCHEMA.replace("id BIGINT", "id BIGINT NOT NULL")
    elif change == "slices":
        v2 = _batch(5, n=100_000)
    elif change == "cached":
        cached = spark.range(3).cache()
        cached.count()
    else:
        eng.sql_directly("DROP VIEW fresh")
        assert "fresh" not in eng._row_views
    try:
        eng.register_table("fresh", v2, schema)
        assert eng._row_views["fresh"] is not view
        for sql in AGGREGATES:
            assert _answer(eng, sql) == _oracle(v2, sql), (change, sql)
    finally:
        if cached is not None:
            cached.unpersist(True)
    blocks = _block_manager(spark.sparkContext._jvm)
    assert all(blocks.getStatus(b).isEmpty() for b in view.block_ids)


def test_large_swap_keeps_two_partitions(eng):
    """100k-row views scan in min(defaultParallelism, 2) partitions before
    and after a swap.  A plan without exchange that ran as a job stays
    cached across the swap and replays over the new rows."""
    sql = "SELECT count(*) AS n, sum(amount) AS s FROM fresh"
    scan = "SELECT id, amount FROM fresh WHERE amount > 9990"
    parallelism = eng.spark.sparkContext.defaultParallelism
    eng.result_cache_enabled = False
    for seed in (6, 7):
        rows = _batch(seed, n=100_000)
        eng.register_table("fresh", rows, SCHEMA)
        partitions = eng.spark.table("fresh")._jdf.queryExecution().toRdd()
        assert partitions.getNumPartitions() == min(parallelism, 2)
        assert _answer(eng, sql) == _oracle(rows, sql)
        hits = eng.cache_stats()["hits"]
        assert _answer(eng, scan) == _oracle(rows, scan)
        assert eng.cache_stats()["hits"] == hits + (seed == 7)
        assert eng.last_metrics()["direct"] is (parallelism < 2)


MV_TEXT = "SELECT kind, count(*) AS n, sum(amount) AS cents FROM fresh GROUP BY kind"


def test_materialized_view_keeps_its_snapshot(eng, spark):
    """A view materialized over ``fresh`` keeps its rows when ``fresh`` is
    registered again, while its SQL text over ``fresh`` reads the new ones.
    The materialization is row blocks of its own, so ``fresh`` swaps in
    place beside it, and dropping it removes its blocks."""
    v1, v2 = _batch(8), _batch(9)
    eng.register_table("fresh", v1, SCHEMA)
    old = eng._row_views["fresh"]
    text = MV_TEXT
    eng.execute_and_register_temp_view(text, "mv")
    mv = eng._row_views["mv"]
    try:
        eng.register_table("fresh", v2, SCHEMA)
        assert eng._row_views["fresh"] is old
        assert _answer(eng, "SELECT * FROM mv") == _oracle(v1, text)
        assert _answer(eng, text) == _oracle(v2, text)
    finally:
        eng.sql_directly("DROP VIEW mv")
    blocks = _block_manager(spark.sparkContext._jvm)
    assert all(blocks.getStatus(b).isEmpty() for b in mv.block_ids)


def test_clear_cache_leaves_a_materialized_view_its_snapshot(eng):
    """``CLEAR CACHE`` has nothing of a materialized view to drop: after it,
    a same-shape refresh of ``fresh`` swaps in place, and ``mv`` still
    answers the rows ``fresh`` had when it was materialized, in SQL, in a
    join with the new ``fresh`` and through ``temp_view``.  ``mv_rows``
    shares ``fresh``'s output attributes, and a join of the two reads both
    versions."""
    v1 = [dict(r, amount=1) for r in _batch(60, 10)]
    v2 = [dict(r, amount=100) for r in v1]
    eng.register_table("fresh", v1, SCHEMA)
    old = eng._row_views["fresh"]
    text = "SELECT sum(amount) AS s FROM fresh"
    eng.execute_and_register_temp_view(text, "mv")
    eng.execute_and_register_temp_view("SELECT id, amount FROM fresh", "mv_rows")
    eng.sql_directly("CLEAR CACHE")
    eng.register_table("fresh", v2, SCHEMA)
    assert eng._row_views["fresh"] is old
    assert _oracle(v1, text) == [(10,)]
    assert _answer(eng, "SELECT s FROM mv") == _oracle(v1, text)
    assert sorted(tuple(r) for r in eng.temp_view("mv").data) == _oracle(v1, text)
    join = "SELECT count(*) AS n, sum(f.amount) AS s FROM fresh f JOIN ({}) m ON f.amount > m.s"
    want = _oracle(v2, join.format("SELECT 10 AS s"))
    assert _answer(eng, join.format("SELECT s FROM mv")) == want
    pairs = (
        "SELECT count(*) AS n, sum(m.amount) AS old, sum(f.amount) AS new "
        "FROM mv_rows m JOIN fresh f ON m.id = f.id"
    )
    assert _answer(eng, pairs) == [(10, 10, 1000)]


def test_rebind_beside_a_materialized_view_removes_the_old_blocks(eng, spark):
    """A re-registration of ``fresh`` with a new schema removes its old
    blocks at once: no materialized view reads them, and ``mv`` still
    answers the old rows."""
    v1 = _batch(61)
    eng.register_table("fresh", v1, SCHEMA)
    old = eng._row_views["fresh"]
    eng.execute_and_register_temp_view(MV_TEXT, "mv")
    v2 = _batch(62)
    eng.register_table("fresh", v2, SCHEMA.replace("account INT", "account BIGINT"))
    assert eng._row_views["fresh"] is not old
    blocks = _block_manager(spark.sparkContext._jvm)
    assert all(blocks.getStatus(b).isEmpty() for b in old.block_ids)
    assert _answer(eng, "SELECT * FROM mv") == _oracle(v1, MV_TEXT)
    assert _answer(eng, MV_TEXT) == _oracle(v2, MV_TEXT)
    self_join = "SELECT a.kind, b.n FROM {0} a JOIN {0} b ON a.cents > b.cents"
    assert _answer(eng, self_join.format("mv")) == _oracle(
        v1, self_join.format(f"({MV_TEXT})")
    )


def test_refresh_beside_an_unrelated_materialized_view_swaps(eng, spark):
    """A materialization makes no CacheManager entry and persists no RDD,
    so a same-shape refresh beside it swaps in place and keeps plans."""
    eng.register_table("fresh", _batch(63), SCHEMA)
    view = eng._row_views["fresh"]
    for sql in AGGREGATES:
        _answer(eng, sql)
    jsc = spark.sparkContext._jsc.sc()
    persistent = jsc.getPersistentRDDs().size()
    assert eng.execute_and_register_temp_view("SELECT 1 AS one", "mv") == 1
    assert eng._cache_manager.isEmpty()
    assert jsc.getPersistentRDDs().size() == persistent
    kept = eng.cache_stats()["plans_kept"]
    v2 = _batch(64)
    eng.register_table("fresh", v2, SCHEMA)
    assert eng._row_views["fresh"] is view
    assert eng.cache_stats()["plans_kept"] > kept
    for sql in AGGREGATES:
        assert _answer(eng, sql) == _oracle(v2, sql), sql
    assert _answer(eng, "SELECT one FROM mv") == [(1,)]


def test_dataframe_reads_current_rows_after_a_swap(eng):
    """A DataFrame from ``dataframe()`` executed outside the facade reads
    the rows the name binds now; after a rebind to new storage it fails."""
    eng.register_table("fresh", _batch(10, 5), SCHEMA)
    df = eng.dataframe("SELECT count(*) AS n FROM fresh")
    assert df.collect()[0].n == 5
    eng.register_table("fresh", _batch(11, 7), SCHEMA)
    assert df.collect()[0].n == 7
    eng.register_table("fresh", _batch(12, 9), SCHEMA.replace("BIGINT", "INT"))
    with pytest.raises(Exception, match="not found"):
        df.collect()


def test_register_inside_sql_iterator_raises(eng):
    """A thread that reads views through ``sql_iterator`` cannot change
    one: it would wait for its own read."""
    eng.register_table("fresh", _batch(13, 50), SCHEMA)
    it = eng.sql_iterator("SELECT id FROM fresh")
    next(it)
    with pytest.raises(RuntimeError):
        eng.register_table("fresh", _batch(14, 50), SCHEMA)
    assert len(list(it)) == 49
    eng.register_table("fresh", _batch(14, 50), SCHEMA)
    assert _answer(eng, "SELECT count(*) FROM fresh") == [(50,)]


def test_sql_iterator_holds_views_only_when_it_reads_registered_rows(eng):
    """An iteration over other data lets the same thread change a view, and
    view DDL about a name with no registered rows runs inside any loop."""
    eng.register_table("fresh", _batch(24, 50), SCHEMA)
    it = eng.sql_iterator("SELECT id FROM range(3)")
    next(it)
    eng.register_table("fresh", _batch(25, 50), SCHEMA)
    assert len(list(it)) == 2
    it = eng.sql_iterator("SELECT id FROM fresh")
    next(it)
    eng.sql_directly("DROP TABLE IF EXISTS swap_unrelated")
    with pytest.raises(RuntimeError):
        eng.sql_directly("DROP VIEW fresh")
    assert len(list(it)) == 49
    assert _answer(eng, "SELECT count(*) FROM fresh") == [(50,)]


def test_dropped_engine_removes_its_blocks(eng, spark):
    """An engine dropped without ``stop()`` removes its row blocks when the
    garbage collector takes it; the shared SparkContext keeps running."""
    child = eng.new_session()
    child.register_table("fresh", _batch(26, 50), SCHEMA)
    block_ids = list(child._row_views["fresh"].block_ids)
    blocks = _block_manager(spark.sparkContext._jvm)
    assert all(blocks.getStatus(b).isDefined() for b in block_ids)
    del child
    gc.collect()
    deadline = time.monotonic() + 60
    while not all(blocks.getStatus(b).isEmpty() for b in block_ids):
        assert time.monotonic() < deadline, "blocks of a dropped engine stayed"
        time.sleep(0.05)
    eng.register_table("fresh", _batch(27, 5), SCHEMA)
    assert _answer(eng, "SELECT count(*) FROM fresh") == [(5,)]


def test_cache_stats_report_view_bytes_and_kept_plans(eng):
    stats = eng.cache_stats()
    assert stats["view_bytes"] > 0  # accounts
    eng.register_table("fresh", _batch(15), SCHEMA)
    grown = eng.cache_stats()["view_bytes"]
    assert grown > stats["view_bytes"]
    _answer(eng, AGGREGATES[0])
    eng.register_table("fresh", _batch(16), SCHEMA)
    assert eng.cache_stats()["plans_kept"] == stats["plans_kept"] + 1
    eng.sql_directly("DROP VIEW fresh")
    assert eng.cache_stats()["view_bytes"] == stats["view_bytes"]


def test_view_bytes_count_materialized_views(eng):
    """``view_bytes`` counts a materialized view's blocks until it is dropped."""
    before = eng.cache_stats()["view_bytes"]
    eng.execute_and_register_temp_view("SELECT id, repeat('x', 50) AS s FROM range(200)", "mv")
    assert eng.cache_stats()["view_bytes"] > before
    eng.sql_directly("DROP VIEW mv")
    assert eng.cache_stats()["view_bytes"] == before


def test_concurrent_swaps_answer_one_version(spark):
    """A writer alternates two same-shape batches while a reader runs the
    aggregates and a self-join: every answer is one version's."""
    spark.catalog.clearCache()
    eng = Engine(spark.newSession(), result_cache_size=0)
    eng.register_table("accounts", ACCOUNTS, ACCOUNTS_SCHEMA)
    versions = (_batch(17), _batch(18))
    statements = AGGREGATES + (SELF_JOIN,)
    want = {sql: [_oracle(v, sql) for v in versions] for sql in statements}
    eng.register_table("fresh", versions[0], SCHEMA)
    errors: list[BaseException] = []
    done = threading.Event()

    def writer():
        try:
            for i in range(12):
                eng.register_table("fresh", versions[(i + 1) % 2], SCHEMA)
        except BaseException as e:
            errors.append(e)
        finally:
            done.set()

    th = threading.Thread(target=writer)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    calls = 0
    try:
        th.start()
        while not done.is_set() or calls < len(statements):
            sql = statements[calls % len(statements)]
            assert _answer(eng, sql) in want[sql], sql
            calls += 1
    finally:
        th.join(timeout=300)
        sys.setswitchinterval(interval)
    assert not th.is_alive()
    assert not errors, errors
    assert eng.cache_stats()["plans_kept"] > 0


@pytest.mark.parametrize("command", ["insert", "ctas"])
def test_commands_read_one_version_during_swaps(spark, tmp_path, monkeypatch, command):
    """A command that reads a view runs inside ``spark.sql``: an INSERT ...
    SELECT or a CREATE TABLE ... AS SELECT over ``fresh`` while another
    thread swaps its rows writes one version's rows, and never fails on a
    block being replaced.  Each swap
    pauses between removing the old blocks and storing the new ones, so a
    read that is not ordered against it meets the gap."""
    put = _RowView.put

    def slow_put(view, rows, n, replace=False):
        if replace:
            view.remove()
            time.sleep(0.05)
        put(view, rows, n, replace)

    monkeypatch.setattr(_RowView, "put", slow_put)
    spark.catalog.clearCache()
    eng = Engine(spark.newSession(), result_cache_size=0)
    versions = (_batch(28), _batch(29))
    select = "SELECT kind, count(*) AS n, sum(amount) AS cents FROM fresh GROUP BY kind"
    want = [_oracle(v, select) for v in versions]
    eng.register_table("fresh", versions[0], SCHEMA)
    if command == "insert":
        eng.sql_directly(
            f"CREATE TABLE swap_snap (kind STRING, n BIGINT, cents BIGINT) "
            f"USING parquet LOCATION '{tmp_path}/snap'"
        )
    errors: list[BaseException] = []
    done = threading.Event()

    def writer():
        try:
            for i in range(20):
                eng.register_table("fresh", versions[(i + 1) % 2], SCHEMA)
        except BaseException as e:
            errors.append(e)
        finally:
            done.set()

    th = threading.Thread(target=writer)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    inserts = 0
    try:
        th.start()
        while not done.is_set() or inserts < 2:
            if command == "insert":
                eng.sql_directly(f"INSERT OVERWRITE TABLE swap_snap {select}")
            else:
                eng.sql_directly("DROP TABLE IF EXISTS swap_snap")
                eng.sql_directly(
                    f"CREATE TABLE swap_snap USING parquet "
                    f"LOCATION '{tmp_path}/snap{inserts}' AS {select}"
                )
            assert _answer(eng, "SELECT * FROM swap_snap") in want
            inserts += 1
    finally:
        th.join(timeout=300)
        sys.setswitchinterval(interval)
        eng.sql_directly("DROP TABLE IF EXISTS swap_snap")
    assert not th.is_alive()
    assert not errors, errors
