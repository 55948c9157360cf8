"""Session-facade conformance: the reference's own test-suite semantics
(DirectExecSuite.scala, RegisterTableTest.java — see FIXTURES.md Part A)
ported to the Engine API.  These exercise the full facade path
(register_table coercion → temp view → sql_directly → DataTable egress),
complementing the registry suite which exercises query semantics over the
star schema.
"""

from __future__ import annotations

import datetime as dt
import sys
import threading
import time
from decimal import Decimal

import pytest

from direct_spark_sql_spark.session import _block_manager, _plan_facts
from tests.conftest import SF_DIR

#: reference fixture A1/A2 (DirectExecSuite.scala:31-38)
PEOPLE = [
    {"name": "a", "age": 2, "genda": 0},
    {"name": "bbb", "age": 2, "genda": 1},
    {"name": "c", "age": 3, "genda": 0},
    {"name": "ddd", "age": 4, "genda": 1},
    {"name": "e", "age": 5, "genda": 1},
]
PEOPLE2 = [
    {"name": "a", "age": 1, "genda": 0},
    {"name": "b", "age": 2, "genda": 1},
    {"name": "c", "age": 3, "genda": 0},
]
PEOPLE_SCHEMA = "name string, age int, genda int"


@pytest.fixture(scope="module")
def people_engine(engine):
    engine.register_table("people", PEOPLE, PEOPLE_SCHEMA)
    engine.register_table("people2", PEOPLE2, PEOPLE_SCHEMA)
    return engine


def _rows(table):
    return table.to_list_of_dicts()


# -- joins (DirectExecSuite.scala:84-150) ------------------------------------

def test_inner_join(people_engine):
    t = people_engine.sql_directly(
        "SELECT t1.name, t1.age, t2.age AS age2 FROM people t1 "
        "JOIN people2 t2 ON t1.name = t2.name ORDER BY t1.name"
    )
    assert _rows(t) == [
        {"name": "a", "age": 2, "age2": 1},
        {"name": "c", "age": 3, "age2": 3},
    ]


def test_left_and_right_join(people_engine):
    left = people_engine.sql_directly(
        "SELECT t1.name, t2.age AS age2 FROM people t1 "
        "LEFT JOIN people2 t2 ON t1.name = t2.name ORDER BY t1.name"
    )
    assert {r["name"]: r["age2"] for r in _rows(left)} == {
        "a": 1, "bbb": None, "c": 3, "ddd": None, "e": None,
    }
    right = people_engine.sql_directly(
        "SELECT t2.name, t1.age FROM people t1 "
        "RIGHT JOIN people2 t2 ON t1.name = t2.name ORDER BY t2.name"
    )
    assert {r["name"]: r["age"] for r in _rows(right)} == {"a": 2, "b": None, "c": 3}


def test_semi_and_anti_join(people_engine):
    semi = people_engine.sql_directly(
        "SELECT name FROM people WHERE name IN (SELECT name FROM people2) ORDER BY name"
    )
    assert [r["name"] for r in _rows(semi)] == ["a", "c"]
    anti = people_engine.sql_directly(
        "SELECT name FROM people WHERE name NOT IN (SELECT name FROM people2) ORDER BY name"
    )
    assert [r["name"] for r in _rows(anti)] == ["bbb", "ddd", "e"]


# -- aggregation (DirectExecSuite.scala:60-82, 180-189) ----------------------

def test_group_by_count_and_approx_distinct(people_engine):
    t = people_engine.sql_directly(
        "SELECT genda, COUNT(*) AS n, APPROX_COUNT_DISTINCT(age) AS nd "
        "FROM people GROUP BY genda ORDER BY genda"
    )
    assert _rows(t) == [
        {"genda": 0, "n": 2, "nd": 2},
        {"genda": 1, "n": 3, "nd": 3},
    ]


def test_grouping_sets(people_engine):
    t = people_engine.sql_directly(
        "SELECT genda, age, COUNT(*) AS n FROM people "
        "GROUP BY GROUPING SETS ((genda), (age)) ORDER BY genda, age"
    )
    rows = _rows(t)
    # 2 genda groups + 4 distinct ages
    assert len(rows) == 6


# -- window / union / generate (DirectExecSuite.scala:46-58, 94-110) ---------

def test_window_row_number(people_engine):
    t = people_engine.sql_directly(
        "SELECT name, ROW_NUMBER() OVER (PARTITION BY genda ORDER BY name) AS rn "
        "FROM people ORDER BY genda, rn"
    )
    assert [(r["name"], r["rn"]) for r in _rows(t)] == [
        ("a", 1), ("c", 2), ("bbb", 1), ("ddd", 2), ("e", 3),
    ]


def test_union_distinct(people_engine):
    t = people_engine.sql_directly(
        "SELECT name FROM people UNION SELECT name FROM people2 ORDER BY name"
    )
    assert [r["name"] for r in _rows(t)] == ["a", "b", "bbb", "c", "ddd", "e"]


def test_lateral_view_explode_split(people_engine):
    t = people_engine.sql_directly(
        "SELECT name, ch FROM people LATERAL VIEW explode(split(name, '')) t AS ch "
        "WHERE name = 'bbb'"
    )
    assert [r["ch"] for r in _rows(t)] == ["b", "b", "b"]


# -- misc corners (DirectExecSuite.scala:152-157, 205-225, 301-320, 376-382) -

def test_one_row_relation(people_engine):
    t = people_engine.sql_directly("SELECT 1 AS m, 'a' AS n")
    assert _rows(t) == [{"m": 1, "n": "a"}]


def test_limit_and_topk(people_engine):
    assert len(people_engine.sql_directly("SELECT * FROM people LIMIT 3")) == 3
    t = people_engine.sql_directly(
        "SELECT name FROM people ORDER BY age DESC, name LIMIT 2"
    )
    assert [r["name"] for r in _rows(t)] == ["e", "ddd"]


def test_empty_result(people_engine):
    t = people_engine.sql_directly("SELECT * FROM people WHERE 1 = 0")
    assert len(t) == 0
    assert [f.name for f in t.schema.fields] == ["name", "age", "genda"]


def test_empty_input_global_agg(people_engine):
    """Global aggregate over empty input emits exactly one row
    (HashAggregateDirectExec.scala:79-103 corner)."""
    t = people_engine.sql_directly(
        "SELECT COUNT(*) AS n, SUM(age) AS s FROM people WHERE 1 = 0"
    )
    assert _rows(t) == [{"n": 0, "s": None}]


# -- 11-type coercion round-trip (RegisterTableTest.java:17-65) --------------

WIDE_SCHEMA = (
    "a int, b bigint, c timestamp, d decimal(38,18), e float, f double, "
    "g boolean, h short, i byte, j date, k string"
)


def test_wide_type_coercion_roundtrip(engine):
    engine.register_table(
        "wide_types",
        [
            {"a": "10", "b": "10", "c": 1565748795542, "d": "23", "e": "2.3",
             "f": "24.03", "g": "true", "h": "1", "i": "12",
             "j": 1565748795542, "k": 2342.23},
            {"a": 200, "b": 10, "c": "1565748795542", "d": 900000, "e": 9.08,
             "f": 9.0008, "h": 12, "i": 23, "j": "1565748795542", "k": "plain"},
        ],
        WIDE_SCHEMA,
    )
    rows = _rows(engine.sql_directly("SELECT * FROM wide_types ORDER BY a"))
    r0, r1 = rows
    assert r0["a"] == 10 and r0["b"] == 10
    # epoch-millis → UTC timestamp (documented deviation: UTC, not local TZ)
    assert r0["c"] == dt.datetime(2019, 8, 14, 2, 13, 15, 542000)
    assert r0["d"] == Decimal("23").scaleb(0).quantize(Decimal(1).scaleb(-18))
    assert abs(r0["e"] - 2.3) < 1e-6 and r0["f"] == 24.03
    assert r0["g"] is True and r1["g"] is None
    assert r0["h"] == 1 and r0["i"] == 12
    assert r0["j"] == dt.date(2019, 8, 14)
    assert r0["k"] == "2342.23"
    assert r1["a"] == 200 and r1["k"] == "plain"


# -- view round-trip / execute-into-view (DirectExecSuite.scala:191-203) -----

def test_view_roundtrip_and_execute_into_view(people_engine):
    n = people_engine.execute_and_register_temp_view(
        "SELECT genda, COUNT(*) AS n FROM people GROUP BY genda", "genda_counts"
    )
    assert n == 2
    t = people_engine.sql_directly("SELECT * FROM genda_counts ORDER BY genda")
    assert _rows(t) == [{"genda": 0, "n": 2}, {"genda": 1, "n": 3}]
    back = people_engine.temp_view("genda_counts")
    assert sorted(_rows(back), key=lambda r: r["genda"]) == _rows(t)


def test_db_qualified_temp_view(people_engine):
    """db-qualified temp views (reference: DirectSessionCatalog.scala:130-145)."""
    people_engine.register_table("mm.test", PEOPLE2, PEOPLE_SCHEMA)
    t = people_engine.sql_directly("SELECT COUNT(*) AS n FROM mm.test")
    assert _rows(t) == [{"n": 3}]
    assert "mm.test" in people_engine.list_tables()


def test_qualified_rewrite_identifier_boundaries(people_engine):
    """Overlapping qualified names must not clobber each other, and names
    inside string literals must survive the rewrite untouched."""
    people_engine.register_table("db.tab", PEOPLE2, PEOPLE_SCHEMA)
    people_engine.register_table("db.table2", PEOPLE, PEOPLE_SCHEMA)
    t = people_engine.sql_directly(
        "SELECT (SELECT COUNT(*) FROM db.tab) AS a, "
        "(SELECT COUNT(*) FROM db.table2) AS b, 'db.tab' AS lit"
    )
    assert _rows(t) == [{"a": 3, "b": 5, "lit": "db.tab"}]
    # prefix name registered *after* the longer one still resolves both ways
    t2 = people_engine.sql_directly(
        "SELECT COUNT(*) AS n FROM db.table2 WHERE name <> 'db.tab'"
    )
    assert _rows(t2) == [{"n": 5}]


@pytest.mark.parametrize(
    "sql, expected",
    [
        # Spark reads "..." as a string literal: data, not a reference
        ('SELECT "see db.t" AS note FROM db.t', [{"note": "see db.t"}]),
        # column t of the subquery aliased db, not the registered view
        ("SELECT db.t FROM (SELECT 7 AS t) AS db", [{"t": 7}]),
        ("SELECT COUNT(*) AS n FROM `db`.`t`", [{"n": 1}]),
    ],
)
def test_qualified_names_placed_by_the_parser(engine, sql, expected):
    engine.register_table("db.t", [{"x": 1}], "x int")
    assert _rows(engine.sql_directly(sql)) == expected


def test_qualified_rewrite_splices_every_relation_only(engine):
    """Subqueries (IN, EXISTS, scalar), nested WITH, UNION, TABLE, a view
    DDL's body and an INSERT target are rewritten in any quoting or case;
    comments and literals stay as written."""
    engine.register_table("db.t", [{"x": 1}], "x int")
    query = (
        "-- db.t\nWITH c AS (WITH d AS (SELECT x FROM {up}) SELECT x FROM d) "
        "SELECT x FROM c WHERE x IN (SELECT x FROM {t}) "
        "AND EXISTS (SELECT 1 FROM {bt}) AND x = (SELECT MAX(x) FROM {t}) "
        "AND 'db.t' = \"db.t\" UNION ALL TABLE {t}"
    )
    written = dict(t="db.t", up="DB.T", bt="`db`.`t`")
    for tpl in (
        query,
        "CREATE TEMP VIEW splice_v AS SELECT x FROM {up}",
        "INSERT INTO {bt} SELECT x FROM {t}",
    ):
        spliced = engine._rewrite_qualified(tpl.format(**written))
        assert spliced == tpl.format(t="db__t", up="db__t", bt="db__t")
    assert _rows(engine.sql_directly(query.format(**written))) == [{"x": 1}] * 2


def test_qualified_names_are_case_insensitive(engine):
    """The registry keys names as SQL resolves them: a case variant
    re-binds the same view for SQL, temp_view and list_tables alike."""
    engine.register_table("CI.T", [{"x": 1}], "x int")
    engine.register_table("ci.t", [{"x": 2}], "x int")
    assert _rows(engine.sql_directly("SELECT x FROM Ci.T")) == [{"x": 2}]
    assert _rows(engine.temp_view("CI.T")) == [{"x": 2}]
    assert [n for n in engine.list_tables() if n.lower() == "ci.t"] == ["ci.t"]
    assert engine.is_temporary_table("CI.T")


def test_view_ddl_over_qualified_name_raises_and_keeps_view(engine):
    """Temp-view DDL takes a single-part name: Spark's parser refuses
    ``q.v``, and the registered view keeps answering its rows."""
    from pyspark.errors import ParseException

    engine.register_table("q.v", [{"x": 1}], "x int")
    with pytest.raises(ParseException, match="TEMP_VIEW_NAME_TOO_MANY_NAME_PARTS"):
        engine.sql_directly("CREATE OR REPLACE TEMP VIEW q.v AS SELECT 9 AS x")
    assert _rows(engine.sql_directly("SELECT x FROM q.v")) == [{"x": 1}]
    assert _rows(engine.temp_view("q.v")) == [{"x": 1}]


@pytest.mark.parametrize("ddl", ["DROP VIEW q_drop.v", "DROP VIEW IF EXISTS q_drop.v"])
def test_drop_view_drops_registered_qualified_view(engine, ddl):
    """View DDL naming a registered qualified view drops the view SQL and
    ``temp_view`` read, not a catalog view of that name."""
    from pyspark.errors import AnalysisException

    engine.register_table("q_drop.v", [{"x": 1}], "x int")
    assert _rows(engine.sql_directly("SELECT x FROM q_drop.v")) == [{"x": 1}]
    engine.sql_directly(ddl)
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        engine.sql_directly("SELECT x FROM q_drop.v")
    with pytest.raises(AnalysisException):
        engine.temp_view("q_drop.v")
    assert "q_drop.v" not in engine.list_tables()
    assert not engine.is_temporary_table("q_drop.v")


def test_syntax_error_raises_parse_exception(engine):
    from pyspark.errors import ParseException

    with pytest.raises(ParseException, match="PARSE_SYNTAX_ERROR"):
        engine.sql_directly("SELEC 1")


def _register_probe_views(engine):
    """The small views the replayability probes below read from."""
    engine.register_table(
        "t",
        [{"known": 1, "renowned": "x", "col": "2024-01-01 00:00:00",
          "operand": 2, "brand": "b", "arr": [1, 2, 3], "x": 3}],
        "known int, renowned string, col string, operand int, brand string, "
        "arr array<int>, x int",
    )
    engine.register_table("strands", [{"rand": 0.5}], "rand double")


def _replayable(engine, sql):
    return _plan_facts(engine.spark.sql(sql)).replayable


def test_uses_time_word_boundaries(engine):
    """Identifiers containing time-function substrings (``known``) must not
    bypass the plan cache; genuine time functions must."""
    _register_probe_views(engine)
    assert _replayable(engine, "SELECT known FROM t WHERE renowned = 'nowhere'")
    assert _replayable(engine, "SELECT unix_timestamp(col) FROM t")
    assert not _replayable(engine, "SELECT now()")
    assert not _replayable(engine, "SELECT unix_timestamp( )")
    assert not _replayable(engine, "SELECT CURRENT_DATE")
    assert not _replayable(engine, "select current_timestamp() as ts")
    # end-to-end: a 'known'-containing statement is served from the cache
    engine.register_table("known_t", [{"known": 1}], "known int")
    sql = "SELECT known FROM known_t"
    df1 = engine.dataframe(sql)
    df2 = engine.dataframe(sql)
    assert df1 is df2


# -- plan cache semantics ----------------------------------------------------

def test_cached_plan_sees_fresh_view_data(engine):
    """The reference's core cache contract: plans cache by name, data is
    re-read at execution (NamedLocalRelation.scala:25-44).  Re-registering
    a view must be visible to the cached statement."""
    engine.register_table("fresh_t", [{"x": 1}], "x int")
    sql = "SELECT SUM(x) AS s FROM fresh_t"
    assert _rows(engine.sql_directly(sql)) == [{"s": 1}]
    engine.register_table("fresh_t", [{"x": 5}, {"x": 6}], "x int")
    assert _rows(engine.sql_directly(sql)) == [{"s": 11}]


def test_view_over_reregistered_table_sees_fresh_data(engine):
    """A SQL view's body is inlined at analysis, so a cached statement over
    the view has bound the table the body reads: re-registering that
    table must drop the statement too, though its text never names it."""
    engine.register_table("vb_base", [{"x": 1}], "x int")
    engine.sql_directly("CREATE TEMP VIEW vb_v AS SELECT x FROM vb_base")
    try:
        sql = "SELECT sum(x) AS s FROM vb_v"
        assert _rows(engine.sql_directly(sql)) == [{"s": 1}]
        engine.register_table("vb_base", [{"x": 5}, {"x": 6}], "x int")
        assert _rows(engine.sql_directly(sql)) == [{"s": 11}]
    finally:
        engine.sql_directly("DROP VIEW vb_v")


def test_time_function_in_string_literal_is_plan_cached(engine):
    """A time function's name inside a string literal, and a column
    aliased ``now``, read no clock: the statement stays plan-cached."""
    engine.register_table("lit_base", [{"x": 1}], "x int")
    sql = "SELECT 'current_timestamp()' AS s, x AS now FROM lit_base"
    assert engine.dataframe(sql) is engine.dataframe(sql)


def test_namespace_isolates_cache(engine):
    engine.register_table("ns_t", [{"x": 1}], "x int")
    engine.set_namespace("tenant-a")
    assert _rows(engine.sql_directly("SELECT COUNT(*) AS n FROM ns_t")) == [{"n": 1}]
    engine.set_namespace("tenant-b")
    assert _rows(engine.sql_directly("SELECT COUNT(*) AS n FROM ns_t")) == [{"n": 1}]
    engine.set_namespace("")


def test_new_session_isolated_views(people_engine):
    """Per-session catalogs over a shared context
    (DirectExecSuite.scala:259-299)."""
    other = people_engine.new_session()
    other.register_table("people", PEOPLE2, PEOPLE_SCHEMA)
    n_other = _rows(other.sql_directly("SELECT COUNT(*) AS n FROM people"))
    n_orig = _rows(people_engine.sql_directly("SELECT COUNT(*) AS n FROM people"))
    assert n_other == [{"n": 3}]
    assert n_orig == [{"n": 5}]


# -- time semantics (DirectExecSuite.scala:322-374) --------------------------

def test_time_changes_across_executions(engine):
    t1 = _rows(engine.sql_directly("SELECT unix_timestamp() AS ts"))[0]["ts"]
    time.sleep(1.1)
    t2 = _rows(engine.sql_directly("SELECT unix_timestamp() AS ts"))[0]["ts"]
    assert t2 > t1


def test_current_time_changes_across_executions(engine):
    t1 = _rows(engine.sql_directly("SELECT current_time() AS t"))[0]["t"]
    time.sleep(1.1)
    t2 = _rows(engine.sql_directly("SELECT current_time() AS t"))[0]["t"]
    assert t1 != t2


def test_time_in_view_body_changes_across_executions(engine):
    """``current_timestamp()`` inside a view body is invisible in the
    statement text; the plan must still be re-analyzed, and the result
    never served from the result cache."""
    engine.sql_directly(
        "CREATE OR REPLACE TEMP VIEW tv_now AS SELECT current_timestamp() AS ts"
    )
    try:
        sql = "SELECT ts FROM tv_now"
        t1 = _rows(engine.sql_directly(sql))[0]["ts"]
        assert engine.last_metrics()["result_cache_hit"] is False
        time.sleep(1.2)
        t2 = _rows(engine.sql_directly(sql))[0]["ts"]
        assert engine.last_metrics()["result_cache_hit"] is False
        assert (t2 - t1).total_seconds() > 1
    finally:
        engine.sql_directly("DROP VIEW tv_now")


def test_rand_in_view_body_changes_across_executions(engine):
    engine.sql_directly("CREATE OR REPLACE TEMP VIEW tv_rand AS SELECT rand() AS r")
    try:
        sql = "SELECT r FROM tv_rand"
        r1 = _rows(engine.sql_directly(sql))[0]["r"]
        r2 = _rows(engine.sql_directly(sql))[0]["r"]
        assert r1 != r2
    finally:
        engine.sql_directly("DROP VIEW tv_rand")


def test_time_stable_within_execution(engine):
    r = _rows(
        engine.sql_directly(
            "SELECT current_timestamp() AS a, current_timestamp() AS b"
        )
    )[0]
    assert r["a"] == r["b"]


# -- concurrency smoke (DirectExecSuite.scala:227-257) -----------------------

def test_concurrent_shared_engine(people_engine):
    errors: list[Exception] = []

    def worker():
        try:
            for _ in range(5):
                t = people_engine.sql_directly(
                    "SELECT t1.name, t1.age FROM people t1 "
                    "JOIN people2 t2 ON t1.age = t2.age ORDER BY t1.name"
                )
                assert [r["name"] for r in _rows(t)] == ["a", "bbb", "c"]
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors


# -- concurrency soak (DirectExecSuite.scala:227-299 parity) ------------------

import os as _os

#: Reference parity is 10 threads × 30 s (DirectExecSuite.scala:227-299);
#: override for quick local iteration with SPARK_GRAFT_SOAK_SECS.
_SOAK_SECS = float(_os.environ.get("SPARK_GRAFT_SOAK_SECS", "30"))


def _run_soak(n_threads: int, secs: float, worker) -> list[Exception]:
    errors: list[Exception] = []
    deadline = time.monotonic() + secs

    def loop(idx: int):
        try:
            while time.monotonic() < deadline:
                worker(idx)
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=loop, args=(i,)) for i in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return errors


def test_soak_shared_engine(people_engine):
    """10 threads hammering one shared engine (and its plan cache) with the
    reference's repeated join+agg shape for the full soak window
    (DirectExecSuite.scala:227-257): zero mismatches, zero exceptions."""

    def worker(_idx: int):
        t = people_engine.sql_directly(
            "SELECT t2.genda, COUNT(*) AS n, SUM(t1.age) AS total_age "
            "FROM people t1 JOIN people2 t2 ON t1.name = t2.name "
            "GROUP BY t2.genda ORDER BY t2.genda"
        )
        assert _rows(t) == [
            {"genda": 0, "n": 2, "total_age": 5},
        ]

    assert _run_soak(10, _SOAK_SECS, worker) == []


def test_soak_per_thread_sessions_same_named_views(people_engine):
    """10 threads, each on its own new_session() registering a *same-named*
    view with thread-specific data (DirectExecSuite.scala:259-299): catalog
    and plan-cache isolation must hold under sustained load."""
    sessions = [people_engine.new_session() for _ in range(10)]
    for i, s in enumerate(sessions):
        s.register_table(
            "soak_people",
            [{"name": f"t{i}", "age": i, "genda": i % 2}] * (i + 1),
            PEOPLE_SCHEMA,
        )

    def worker(idx: int):
        s = sessions[idx]
        t = s.sql_directly(
            "SELECT COUNT(*) AS n, MIN(name) AS who, SUM(age) AS total "
            "FROM soak_people"
        )
        assert _rows(t) == [
            {"n": idx + 1, "who": f"t{idx}", "total": idx * (idx + 1)}
        ]

    assert _run_soak(10, _SOAK_SECS, worker) == []


def test_cache_stats_and_explain(engine):
    engine.register_table(
        "cs_tab", [{"a": 1}, {"a": 2}], "a INT"
    )
    before = engine.cache_stats()
    engine.sql_directly("SELECT sum(a) AS s FROM cs_tab")
    engine.sql_directly("SELECT sum(a) AS s FROM cs_tab")
    after = engine.cache_stats()
    assert after["hits"] == before["hits"] + 1
    assert after["misses"] == before["misses"] + 1
    assert after["entries"] >= 1 and after["capacity"] >= after["entries"]
    plan = engine.explain("SELECT sum(a) AS s FROM cs_tab")
    assert "Physical Plan" in plan and "HashAggregate" in plan


def test_explain_plans_without_running(engine, tmp_path):
    """explain issues Spark's EXPLAIN statement: an INSERT is planned, not
    run, and the cached plans stay (EXPLAIN is not a facade command)."""
    engine.sql_directly(
        f"CREATE TABLE expl_ins (a INT) USING parquet LOCATION '{tmp_path}/t'"
    )
    try:
        q = "SELECT CAST(COUNT(*) AS INT) AS n FROM expl_ins"
        assert _rows(engine.sql_directly(q)) == [{"n": 0}]
        # a catalog-table plan is never plan-cached: watch an in-memory one
        engine.register_table("expl_mem", [{"a": 1}], "a INT")
        cached = "SELECT a FROM expl_mem"
        engine.sql_directly(cached)
        plan = engine.explain("INSERT INTO expl_ins VALUES (1)")
        assert "InsertIntoHadoopFsRelationCommand" in plan
        assert engine.spark.table("expl_ins").count() == 0
        assert _rows(engine.sql_directly(q)) == [{"n": 0}]
        before = engine.cache_stats()
        engine.sql_directly(cached)
        assert engine.cache_stats()["hits"] == before["hits"] + 1
    finally:
        engine.sql_directly("DROP TABLE IF EXISTS expl_ins")


def test_view_ddl_invalidates_cached_plans(engine):
    engine.sql_directly("CREATE OR REPLACE TEMPORARY VIEW v_ddl AS SELECT 5 AS a")
    assert engine.sql_directly("SELECT a FROM v_ddl").to_list_of_dicts() == [{"a": 5}]
    # redefining the view through SQL DDL must drop the cached SELECT plan
    engine.sql_directly("CREATE OR REPLACE TEMPORARY VIEW v_ddl AS SELECT 6 AS a")
    assert engine.sql_directly("SELECT a FROM v_ddl").to_list_of_dicts() == [{"a": 6}]
    engine.sql_directly("DROP VIEW v_ddl")
    engine.sql_directly("CREATE TEMPORARY VIEW v_ddl AS SELECT 'x' AS a")
    assert engine.sql_directly("SELECT a FROM v_ddl").to_list_of_dicts() == [{"a": "x"}]


def test_view_name_in_string_literal_does_not_evict(engine):
    """Round-2 advice: a view name appearing only inside a string literal
    of an unrelated cached query is data, not a reference — redefining the
    view must NOT evict that plan."""
    engine.register_table("lit_unrelated", [{"x": 1}], "x int")
    unrelated = "SELECT 'v_lit_probe' AS tag, SUM(x) AS s FROM lit_unrelated"
    engine.sql_directly(unrelated)  # populate cache
    before = engine.cache_stats()
    engine.sql_directly("CREATE OR REPLACE TEMPORARY VIEW v_lit_probe AS SELECT 1 AS a")
    engine.sql_directly(unrelated)  # must be a cache hit, not a re-analysis
    after = engine.cache_stats()
    assert after["hits"] == before["hits"] + 1
    assert after["misses"] == before["misses"]
    engine.sql_directly("DROP VIEW v_lit_probe")


def test_backtick_referenced_view_still_invalidated(engine):
    """The quoted-span skip must not under-invalidate: a cached query that
    references the view through a backtick-quoted identifier still drops."""
    engine.sql_directly("CREATE OR REPLACE TEMPORARY VIEW v_bt AS SELECT 5 AS a")
    q = "SELECT a FROM `v_bt`"
    assert engine.sql_directly(q).to_list_of_dicts() == [{"a": 5}]
    engine.sql_directly("CREATE OR REPLACE TEMPORARY VIEW v_bt AS SELECT 6 AS a")
    assert engine.sql_directly(q).to_list_of_dicts() == [{"a": 6}]
    engine.sql_directly("DROP VIEW v_bt")


def test_qualified_view_reregister_invalidates_cached_plans(engine):
    """Round-2 advice: invalidation must work for qualified ``db.view``
    spellings — re-registering the qualified view drops cached plans that
    reference it by its qualified name."""
    engine.register_table("cachedb.v_q", [{"x": 1}], "x int")
    q = "SELECT SUM(x) AS s FROM cachedb.v_q"
    assert _rows(engine.sql_directly(q)) == [{"s": 1}]
    engine.register_table("cachedb.v_q", [{"x": 7}, {"x": 8}], "x int")
    assert _rows(engine.sql_directly(q)) == [{"s": 15}]


def test_list_tables_merges_qualified_and_filters(engine):
    """Reference listTables override: db-qualified registry views appear
    alongside Spark catalog tables, with *-wildcard pattern filtering
    (DirectSessionCatalog.scala:185-201)."""
    engine.register_table("catdb.lt_q", [{"x": 1}], "x int")
    engine.register_table("lt_plain", [{"x": 1}], "x int")
    names = engine.list_tables()
    assert "catdb.lt_q" in names and "lt_plain" in names
    assert "catdb__lt_q" not in names  # the mangled name SQL reaches it by
    assert engine.list_tables("lt_*") == ["lt_plain"]
    assert engine.list_tables("catdb.*|lt_pl*") == ["catdb.lt_q", "lt_plain"]


def test_is_temporary_table(engine):
    """Reference isTemporaryTable override: true for Spark temp views and
    for db-qualified registry views (DirectSessionCatalog.scala:173-183)."""
    engine.register_table("catdb.itt_q", [{"x": 1}], "x int")
    engine.register_table("itt_plain", [{"x": 1}], "x int")
    assert engine.is_temporary_table("catdb.itt_q")
    assert not engine.is_temporary_table("catdb__itt_q")  # hidden, as in list_tables
    assert engine.is_temporary_table("itt_plain")
    assert not engine.is_temporary_table("no_such_table")
    assert not engine.is_temporary_table("nodb.no_such_table")


def test_temp_view_java_list_of_dicts(engine):
    """Reference tempViewJava readout: a view's rows as list-of-dicts
    (DirectSparkSession.scala:156-179)."""
    engine.register_table(
        "tvj", [{"a": 1, "b": "x"}, {"a": 2, "b": None}], "a int, b string"
    )
    rows = sorted(engine.temp_view_java("tvj"), key=lambda r: r["a"])
    assert rows == [{"a": 1, "b": "x"}, {"a": 2, "b": None}]


def test_catalog_table_plan_sees_writes_made_on_spark(engine, tmp_path):
    """Analysis fixes a catalog table's file listing, and an INSERT through
    ``engine.spark`` fires no facade hook: a plan over such a table is not
    plan-cached, while one over a parquet-path view still is."""
    spark = engine.spark
    spark.sql(f"CREATE TABLE cat_pt (a INT) USING parquet LOCATION '{tmp_path}'")
    try:
        sql = "SELECT CAST(COUNT(*) AS INT) AS n FROM cat_pt"
        assert engine.sql_directly(sql).to_list_of_dicts() == [{"n": 0}]
        spark.sql("INSERT INTO cat_pt VALUES (1)")
        assert engine.sql_directly(sql).to_list_of_dicts() == [{"n": 1}]
        assert spark.table("cat_pt").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS cat_pt")
    path_view = spark.read.parquet(f"{SF_DIR}/region.parquet")
    assert _plan_facts(path_view).replayable is True


def test_non_query_statements_bypass_plan_cache(engine):
    before = engine.cache_stats()
    engine.sql_directly("SET spark.sql.ansi.enabled")
    after = engine.cache_stats()
    # commands never touch the LRU (no get, no put)
    assert (after["hits"], after["misses"]) == (before["hits"], before["misses"])


# -- statement kind from the analyzed plan: every command runs and invalidates

def test_with_prefixed_insert_runs_every_call(engine, tmp_path):
    """A WITH-led INSERT is a command: each call inserts again instead of
    replaying a cached plan that already ran."""
    engine.sql_directly(
        f"CREATE TABLE cmd_ins (a INT) USING parquet LOCATION '{tmp_path}/t'"
    )
    try:
        for _ in range(3):
            engine.sql_directly(
                "WITH s AS (SELECT 1 AS a) INSERT INTO cmd_ins SELECT a FROM s"
            )
        n = engine.sql_directly("SELECT CAST(COUNT(*) AS INT) AS n FROM cmd_ins")
        assert _rows(n) == [{"n": 3}]
    finally:
        engine.sql_directly("DROP TABLE IF EXISTS cmd_ins")


def test_comment_prefixed_view_ddl_invalidates(engine):
    engine.sql_directly("CREATE OR REPLACE TEMP VIEW cmt_v AS SELECT 1 AS a")
    assert _rows(engine.sql_directly("SELECT a FROM cmt_v")) == [{"a": 1}]
    engine.sql_directly(
        "-- redefine\nCREATE OR REPLACE TEMP VIEW cmt_v AS SELECT 2 AS a"
    )
    assert _rows(engine.sql_directly("SELECT a FROM cmt_v")) == [{"a": 2}]
    engine.sql_directly("DROP VIEW cmt_v")


def test_drop_table_on_temp_view_invalidates(engine):
    from pyspark.errors import AnalysisException

    engine.register_table("drop_tv", [{"a": 1}], "a INT")
    q = "SELECT a FROM drop_tv"
    assert _rows(engine.sql_directly(q)) == [{"a": 1}]
    engine.sql_directly("DROP TABLE drop_tv")
    with pytest.raises(AnalysisException):
        engine.sql_directly(q)


def test_set_session_time_zone_invalidates(engine):
    key = "spark.sql.session.timeZone"
    prior = engine.spark.conf.get(key)
    utc = dt.timezone.utc
    engine.register_table(
        "tz_v", [{"ts": dt.datetime(2024, 1, 1, 12, tzinfo=utc)}], "ts TIMESTAMP"
    )
    q = "SELECT CAST(ts AS STRING) AS s FROM tz_v"
    try:
        engine.sql_directly(f"SET {key}=UTC")
        assert _rows(engine.sql_directly(q)) == [{"s": "2024-01-01 12:00:00"}]
        engine.sql_directly(f"SET {key}=America/New_York")
        assert _rows(engine.sql_directly(q)) == [{"s": "2024-01-01 07:00:00"}]
    finally:
        engine.sql_directly(f"SET {key}={prior}")


def test_use_database_re_resolves_tables(engine, tmp_path):
    engine.sql_directly(f"CREATE DATABASE use_d2 LOCATION '{tmp_path}/d2'")
    try:
        for db, x in (("default", 1), ("use_d2", 2)):
            engine.sql_directly(
                f"CREATE TABLE {db}.use_ut USING parquet "
                f"LOCATION '{tmp_path}/{db}_ut' AS SELECT {x} AS x"
            )
        q = "SELECT x FROM use_ut"
        assert _rows(engine.sql_directly(q)) == [{"x": 1}]
        engine.sql_directly("USE use_d2")
        assert _rows(engine.sql_directly(q)) == [{"x": 2}]
    finally:
        engine.sql_directly("USE default")
        engine.sql_directly("DROP TABLE IF EXISTS default.use_ut")
        engine.sql_directly("DROP DATABASE IF EXISTS use_d2 CASCADE")


@pytest.mark.parametrize(
    "q", ["-- lead\nSELECT a FROM lead_v", "(SELECT a FROM lead_v)"]
)
def test_comment_or_paren_select_is_plan_cached(engine, q):
    """Queries are told from commands by their plan, not by a leading
    SELECT keyword, so these are plan-cached too."""
    engine.register_table("lead_v", [{"a": 1}], "a INT")
    engine.sql_directly(q)
    before = engine.cache_stats()
    assert _rows(engine.sql_directly(q)) == [{"a": 1}]
    after = engine.cache_stats()
    assert after["hits"] == before["hits"] + 1
    assert after["misses"] == before["misses"]


def test_non_temp_view_ddl_invalidates_cached_plans(engine):
    # regression: CREATE OR REPLACE VIEW (no TEMPORARY) must also drop
    # cached plans referencing the view
    engine.sql_directly("CREATE OR REPLACE VIEW pv_ddl AS SELECT 5 AS a")
    assert engine.sql_directly("SELECT a FROM pv_ddl").to_list_of_dicts() == [{"a": 5}]
    engine.sql_directly("CREATE OR REPLACE VIEW pv_ddl AS SELECT 6 AS a")
    assert engine.sql_directly("SELECT a FROM pv_ddl").to_list_of_dicts() == [{"a": 6}]
    engine.sql_directly("DROP VIEW pv_ddl")


def test_concurrent_view_ddl_and_queries(engine):
    """The view-DDL invalidation path (drop_where under the LRU lock) must
    be safe under concurrent redefinition + cached reads: no exceptions,
    and after the dust settles every view reads its final definition."""
    import threading

    n_threads, n_iters = 6, 15
    errors: list[Exception] = []

    def worker(t: int) -> None:
        try:
            for i in range(n_iters):
                engine.sql_directly(
                    f"CREATE OR REPLACE TEMPORARY VIEW soak_v{t} AS SELECT {i} AS a"
                )
                engine.sql_directly(f"SELECT a FROM soak_v{t}")
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    for t in range(n_threads):
        got = engine.sql_directly(f"SELECT a FROM soak_v{t}").to_list_of_dicts()
        assert got == [{"a": n_iters - 1}], f"thread {t} view stale: {got}"


# -- round-4 surfaces ---------------------------------------------------------

def test_nondeterministic_statements_bypass_plan_cache(engine):
    """Seeded-random expressions must re-analyze per call — a cached
    analyzed plan fixes the seed at first analysis, so repeated calls
    would return identical "random" values (the randomness analogue of
    the DirectCurrentDate time bug, DirectSessionStateBuilder.scala:
    134-155)."""
    # plan level: the replayability fact
    _register_probe_views(engine)
    assert not _replayable(engine, "SELECT uuid() AS u")
    assert not _replayable(engine, "SELECT rand() AS r")
    assert not _replayable(engine, "SELECT randn(), x FROM t")
    assert not _replayable(engine, "SELECT shuffle(arr) FROM t")
    assert not _replayable(engine, "SELECT monotonically_increasing_id()")
    # identifiers that merely contain the substrings stay cacheable
    assert _replayable(engine, "SELECT operand, brand FROM t")
    assert _replayable(engine, "SELECT rand FROM strands")
    # end-to-end: two executions differ
    u1 = engine.sql_directly("SELECT uuid() AS u").to_list_of_dicts()[0]["u"]
    u2 = engine.sql_directly("SELECT uuid() AS u").to_list_of_dicts()[0]["u"]
    assert u1 != u2
    r1 = [
        r["r"]
        for r in engine.sql_directly(
            "SELECT rand() AS r FROM range(5)"
        ).to_list_of_dicts()
    ]
    r2 = [
        r["r"]
        for r in engine.sql_directly(
            "SELECT rand() AS r FROM range(5)"
        ).to_list_of_dicts()
    ]
    assert r1 != r2


def _blocks_gone(engine, view) -> bool:
    blocks = _block_manager(engine.spark.sparkContext._jvm)
    return all(blocks.getStatus(b).isEmpty() for b in view.block_ids)


def test_execute_and_register_unpersists_replaced_view(engine, spark):
    """Re-registering a materialized view name leaks no storage per call
    (service-loop pathology): a result of the same shape swaps the name's
    row blocks in place, and no call persists an RDD."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()  # context-global: delta-based
    views = set()
    for i in range(5):
        n = engine.execute_and_register_temp_view(
            f"SELECT {i} AS gen, id FROM range(10)", "mat_view_leak_t"
        )
        assert n == 10
        views.add(id(engine._row_views["mat_view_leak_t"]))
    assert len(views) == 1
    assert jsc.getPersistentRDDs().size() == before
    got = engine.sql_directly(
        "SELECT DISTINCT gen FROM mat_view_leak_t"
    ).to_list_of_dicts()
    assert got == [{"gen": 4}]


def test_execute_and_register_invalidates_cached_plans(engine):
    """A cached statement referencing the materialized view must see the
    new data after re-registration."""
    engine.execute_and_register_temp_view("SELECT 1 AS v", "mat_inval_t")
    sql = "SELECT SUM(v) AS s FROM mat_inval_t"
    assert engine.sql_directly(sql).to_list_of_dicts() == [{"s": 1}]
    engine.execute_and_register_temp_view("SELECT 7 AS v", "mat_inval_t")
    assert engine.sql_directly(sql).to_list_of_dicts() == [{"s": 7}]


def test_execute_and_register_qualified_name(people_engine):
    """A db-qualified name binds like register_table's (reference:
    DirectSessionCatalog.scala:130-145)."""
    n = people_engine.execute_and_register_temp_view(
        "SELECT name FROM people WHERE genda = 1", "matdb.ones"
    )
    assert n == 3
    t = people_engine.sql_directly("SELECT COUNT(*) AS n FROM matdb.ones")
    assert _rows(t) == [{"n": 3}]
    back = _rows(people_engine.temp_view("matdb.ones"))
    assert sorted(r["name"] for r in back) == ["bbb", "ddd", "e"]


def test_register_table_over_materialized_view_releases_storage(engine, spark):
    """Rebinding a materialized name through register_table removes the
    row blocks materialized under it (``range``'s ``id`` is NOT NULL, the
    registered column nullable, so the name cannot swap)."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()  # context-global: delta-based
    engine.execute_and_register_temp_view(
        "SELECT id AS rebind_id FROM range(10)", "rebind_t"
    )
    mat = engine._row_views["rebind_t"]
    engine.register_table("rebind_t", [{"rebind_id": 7}], "rebind_id bigint")
    assert engine._row_views["rebind_t"] is not mat
    assert _blocks_gone(engine, mat)
    assert jsc.getPersistentRDDs().size() == before
    got = engine.sql_directly("SELECT rebind_id FROM rebind_t")
    assert _rows(got) == [{"rebind_id": 7}]


@pytest.mark.parametrize("name", ["drop_mv_t", "dropdb.mv_t"])
def test_drop_view_releases_materialized_storage(engine, spark, name):
    """``DROP VIEW`` of a materialized view removes its row blocks and
    forgets them, for a bare and for a qualified name."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()  # context-global: delta-based
    engine.execute_and_register_temp_view(
        f"SELECT id * 3 AS x, '{name}' AS n FROM range(10)", name
    )
    mat = engine._row_views[name]
    assert jsc.getPersistentRDDs().size() == before
    engine.sql_directly(f"DROP VIEW {name}")
    assert jsc.getPersistentRDDs().size() == before
    assert name not in engine._row_views
    assert _blocks_gone(engine, mat)


@pytest.mark.parametrize(
    "ddl", ["CREATE OR REPLACE TEMP VIEW {} AS SELECT 1 AS x", "DROP TABLE {}"]
)
def test_view_ddl_releases_materialized_storage(engine, spark, ddl):
    """A view DDL that replaces or drops a materialized view removes its row
    blocks and forgets them, as ``DROP VIEW`` does."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()  # context-global: delta-based
    engine.execute_and_register_temp_view("SELECT id * 11 AS x FROM range(9)", "ddl_mv")
    mat = engine._row_views["ddl_mv"]
    assert jsc.getPersistentRDDs().size() == before
    engine.sql_directly(ddl.format("ddl_mv"))
    assert jsc.getPersistentRDDs().size() == before
    assert "ddl_mv" not in engine._row_views
    assert _blocks_gone(engine, mat)


@pytest.mark.parametrize(
    "ddl",
    ["DROP VIEW {}", "DROP TABLE {}", "CREATE OR REPLACE TEMP VIEW {} AS SELECT 1 AS x"],
)
@pytest.mark.parametrize("name", ["ddl_rows", "ddldb.rows"])
def test_view_ddl_removes_registered_row_blocks(engine, ddl, name):
    """Dropping or replacing a registered view removes its row blocks from
    the BlockManager and forgets them, for a bare and a qualified name (a
    qualified name cannot be a temp view's, so CREATE raises)."""
    from pyspark.errors import ParseException

    engine.register_table(name, [{"x": i} for i in range(5)], "x int")
    view = engine._row_views[name]
    if ddl.startswith("CREATE") and "." in name:
        with pytest.raises(ParseException):
            engine.sql_directly(ddl.format(name))
        assert engine._row_views[name] is view
        return
    engine.sql_directly(ddl.format(name))
    assert name not in engine._row_views
    blocks = _block_manager(engine.spark.sparkContext._jvm)
    assert all(blocks.getStatus(b).isEmpty() for b in view.block_ids)


def test_drop_view_keeps_storage_another_view_shares(engine, spark):
    """The same statement materialized under two names stores two sets of
    row blocks: dropping one name removes only its own."""
    sql = "SELECT id * 5 AS x FROM range(12)"
    engine.execute_and_register_temp_view(sql, "drop_share_a")
    engine.execute_and_register_temp_view(sql, "drop_share_b")
    a, b = engine._row_views["drop_share_a"], engine._row_views["drop_share_b"]
    engine.sql_directly("DROP VIEW drop_share_a")
    assert _blocks_gone(engine, a) and b.nbytes() > 0
    got = engine.sql_directly("SELECT count(*) AS n FROM drop_share_b")
    assert _rows(got) == [{"n": 12}]


def test_qualified_registry_read_races_registration(engine):
    """Rewrites that race registrations of new qualified names read one
    snapshot of the registry, not the dict being written."""
    eng = engine.new_session()
    df = eng.spark.range(1)
    for i in range(20):
        eng.register_table(f"racedb.seed{i}", df)

    def mangle(name):
        time.sleep(0)  # yield mid-iteration, so a registration lands there
        return name.replace(".", "__")

    eng._mangle = mangle
    stop = threading.Event()
    errors: list[Exception] = []

    def reader():
        try:
            while not stop.is_set():
                eng._rewrite_qualified("SELECT id FROM racedb.seed0")
        except Exception as e:
            errors.append(e)

    readers = [threading.Thread(target=reader) for _ in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in readers:
            th.start()
        deadline = time.monotonic() + 2
        i = 0
        while time.monotonic() < deadline and not errors:
            eng.register_table(f"racedb.w{i}", df)
            i += 1
    finally:
        stop.set()
        for th in readers:
            th.join(timeout=10)
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in readers)
    assert errors == []
    assert _rows(eng.sql_directly("SELECT COUNT(*) AS n FROM racedb.w0")) == [{"n": 1}]


def test_last_metrics_readout(engine):
    """last_metrics() exposes the executed plan's SQLMetric map plus
    rollups (reference: DirectSQLMetrics.scala:21-72)."""
    engine.register_table(
        "metrics_t", [{"k": i % 3, "v": i} for i in range(100)], "k int, v int"
    )
    t = engine.sql_directly(
        "SELECT k, SUM(v) AS s FROM metrics_t GROUP BY k ORDER BY k"
    )
    assert len(t) == 3
    m = engine.last_metrics()
    assert m is not None
    assert m["wall_sec"] > 0
    assert m["output_rows"] >= 3
    ops = [n["operator"] for n in m["operators"]]
    assert any("HashAggregate" in o for o in ops), ops
    # every node entry carries a raw numeric metric dict
    assert all(isinstance(n["metrics"], dict) for n in m["operators"])
    agg_rows = [
        n["metrics"]["numOutputRows"]
        for n in m["operators"]
        if "HashAggregate" in n["operator"] and "numOutputRows" in n["metrics"]
    ]
    assert agg_rows and agg_rows[0] >= 3


def test_sql_iterator_streams_without_materializing(engine):
    """Pull-based egress (reference contract Iterator[InternalRow],
    DirectPlan.scala:81-83): 100k rows consumed incrementally."""
    import types

    it = engine.sql_iterator("SELECT id, id * 2 AS dbl FROM range(100000)")
    assert isinstance(it, types.GeneratorType)
    first = next(it)
    assert first == {"id": 0, "dbl": 0}
    count = 1 + sum(1 for _ in it)
    assert count == 100000


def test_datatable_to_local_iterator(engine):
    t = engine.sql_directly("SELECT id FROM range(5)")
    rows = list(t.to_local_iterator())
    assert rows == [{"id": i} for i in range(5)]


@pytest.mark.parametrize(
    "select", ["INTERVAL '1' YEAR AS ym", "make_interval(1, 2) AS ci"],
    ids=["year-month", "calendar"],
)
def test_interval_results_raise(engine, select):
    """Neither Arrow nor ``collect()`` carries a YEAR-MONTH or calendar
    INTERVAL to Python: ``sql_directly`` raises rather than return a table."""
    from pyspark.errors import PySparkNotImplementedError, PySparkTypeError

    sql = f"SELECT {select}"
    with pytest.raises(PySparkTypeError, match="UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION"):
        engine.sql_directly(sql)
    with pytest.raises(PySparkNotImplementedError, match="NOT_IMPLEMENTED"):
        engine.spark.sql(sql).collect()


def test_reregister_same_sql_keeps_materialization(engine, spark):
    """Re-registering the SAME statement swaps the name's row blocks in
    place and persists no RDD."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()  # context-global: delta-based
    engine.execute_and_register_temp_view("SELECT id FROM range(20)", "mat_same_t")
    view = engine._row_views["mat_same_t"]
    engine.execute_and_register_temp_view("SELECT id FROM range(20)", "mat_same_t")
    assert engine._row_views["mat_same_t"] is view and view.nbytes() > 0
    assert jsc.getPersistentRDDs().size() == before
    got = engine.sql_directly(
        "SELECT COUNT(*) AS n FROM mat_same_t"
    ).to_list_of_dicts()
    assert got == [{"n": 20}]


def test_reregister_same_sql_refreshes_snapshot(engine):
    """Re-registering the SAME statement is a refresh: the new
    materialization must read the source's current data, not serve the
    previously materialized rows."""
    engine.register_table("snap_src_t", [{"v": 1}], "v int")
    engine.execute_and_register_temp_view(
        "SELECT SUM(v) AS s FROM snap_src_t", "snap_view_t"
    )
    assert engine.sql_directly(
        "SELECT s FROM snap_view_t"
    ).to_list_of_dicts() == [{"s": 1}]
    engine.register_table("snap_src_t", [{"v": 5}, {"v": 6}], "v int")
    engine.execute_and_register_temp_view(
        "SELECT SUM(v) AS s FROM snap_src_t", "snap_view_t"
    )
    assert engine.sql_directly(
        "SELECT s FROM snap_view_t"
    ).to_list_of_dicts() == [{"s": 11}]


def test_failed_materialization_keeps_the_previous_rows(engine):
    """A materialization that fails at run time stores nothing: the name
    still answers its previous rows, and ``view_bytes`` is unchanged."""
    engine.execute_and_register_temp_view("SELECT id FROM range(4)", "mat_err_t")
    view_bytes = engine.cache_stats()["view_bytes"]
    failing = (
        "SELECT CASE WHEN id = 2 THEN CAST(raise_error('mat boom') AS BIGINT) "
        "ELSE id END AS id FROM range(4)"
    )
    with pytest.raises(Exception, match="mat boom"):
        engine.execute_and_register_temp_view(failing, "mat_err_t")
    got = engine.sql_directly("SELECT id FROM mat_err_t ORDER BY id").to_list_of_dicts()
    assert got == [{"id": i} for i in range(4)]
    assert engine.cache_stats()["view_bytes"] == view_bytes
