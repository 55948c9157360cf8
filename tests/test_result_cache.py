"""Result cache + per-execution metric semantics (round 5).

The reference's warm path is a same-thread iterator over a cached
single-node plan (DirectPlan.scala:79-83) — microseconds per repeated
query.  Spark's distributed execution has a per-job floor two orders of
magnitude above that (measured: the plan-cache lookup itself is ~11 µs;
the rest of a warm ``sql_directly`` is stage scheduling), so the engine's
equivalent fast path is a *result* cache over deterministic, file-free
queries with the exact same invalidation hooks as the plan cache.  These
tests pin the semantics that make that safe.
"""

from __future__ import annotations

import pytest

from direct_spark_sql_spark.session import _plan_facts
from tests.conftest import SF_DIR


@pytest.fixture()
def eng(engine):
    engine.result_cache_enabled = True
    yield engine
    engine.result_cache_enabled = True


def test_repeated_query_hits_result_cache(eng):
    eng.register_table("rc_t", [{"a": i} for i in range(10)], "a BIGINT")
    sql = "SELECT sum(a) AS s FROM rc_t"
    assert eng.sql_directly(sql).to_list_of_dicts() == [{"s": 45}]
    before = eng.cache_stats()
    assert eng.sql_directly(sql).to_list_of_dicts() == [{"s": 45}]
    after = eng.cache_stats()
    assert after["result_hits"] == before["result_hits"] + 1
    # plan-cache stats still tick (the df lookup happens first)
    assert after["hits"] == before["hits"] + 1


def test_reregister_invalidates_result(eng):
    eng.register_table("rc_fresh", [{"a": 1}], "a BIGINT")
    sql = "SELECT sum(a) AS s FROM rc_fresh"
    assert eng.sql_directly(sql).to_list_of_dicts() == [{"s": 1}]
    eng.register_table("rc_fresh", [{"a": 7}], "a BIGINT")
    assert eng.sql_directly(sql).to_list_of_dicts() == [{"s": 7}]


def test_view_ddl_invalidates_result(eng):
    eng.sql_directly("CREATE OR REPLACE TEMPORARY VIEW rc_v AS SELECT 5 AS a")
    sql = "SELECT a + 1 AS b FROM rc_v"
    assert eng.sql_directly(sql).to_list_of_dicts() == [{"b": 6}]
    eng.sql_directly("CREATE OR REPLACE TEMPORARY VIEW rc_v AS SELECT 8 AS a")
    assert eng.sql_directly(sql).to_list_of_dicts() == [{"b": 9}]
    eng.sql_directly("DROP VIEW rc_v")


def test_nondeterministic_statement_never_result_cached(eng):
    vals = {eng.sql_directly("SELECT rand() AS r").data[0].r for _ in range(3)}
    assert len(vals) == 3


def test_nondeterministic_view_body_never_result_cached(eng):
    """rand() hidden inside a view body is invisible in the statement
    text — the analyzed-plan replayability fact must catch it."""
    eng.register_table(
        "rc_rand_src", eng.spark.sql("SELECT id, rand() AS r FROM range(100)")
    )
    sql = "SELECT sum(r) AS s FROM rc_rand_src"
    eng.sql_directly(sql)
    eng.sql_directly(sql)
    # the analyzed-plan gate must have refused to cache: second call is a
    # real execution, not a result-cache hit
    assert eng.last_metrics()["result_cache_hit"] is False
    assert _plan_facts(eng.dataframe(sql)).replayable is False


def test_file_backed_query_never_result_cached(eng):
    eng.spark.read.parquet(f"{SF_DIR}/region.parquet").createOrReplaceTempView(
        "rc_file_v"
    )
    sql = "SELECT count(*) AS n FROM rc_file_v"
    eng.sql_directly(sql)
    eng.sql_directly(sql)
    assert eng.last_metrics()["result_cache_hit"] is False


def test_returned_table_is_mutation_isolated(eng):
    eng.register_table("rc_mut", [{"a": 1}, {"a": 2}], "a BIGINT")
    sql = "SELECT a FROM rc_mut ORDER BY a"
    t1 = eng.sql_directly(sql)
    t1.data.clear()  # caller mangles their copy
    t2 = eng.sql_directly(sql)
    assert [r.a for r in t2.data] == [1, 2]


def test_nested_array_values_are_mutation_isolated(eng):
    """Row objects are immutable tuples, but a list INSIDE a row is
    shared Python state: in-place mutation of a hit's nested array must
    not poison later hits (round-5 advice)."""
    eng.register_table("rc_nest", [{"a": 1}], "a BIGINT")
    sql = "SELECT array(a, a + 1) AS arr, map('k', a) AS m FROM rc_nest"
    t1 = eng.sql_directly(sql)
    t2 = eng.sql_directly(sql)  # cache hit
    t2.data[0].arr.append(99)
    t2.data[0].m["k"] = -1
    t3 = eng.sql_directly(sql)  # hit after the mutation
    assert list(t3.data[0].arr) == [1, 2]
    assert dict(t3.data[0].m) == {"k": 1}
    # the materializing caller's own rows can't poison the cache either
    assert list(t1.data[0].arr) == [1, 2]
    t1.data[0].arr.append(7)
    assert list(eng.sql_directly(sql).data[0].arr) == [1, 2]


def test_nested_struct_and_binary_mutation_isolated(eng):
    eng.register_table("rc_nest2", [{"a": 2}], "a BIGINT")
    sql = (
        "SELECT named_struct('xs', array(a), 'y', a) AS s, "
        "cast('ab' AS BINARY) AS b FROM rc_nest2"
    )
    eng.sql_directly(sql)
    t2 = eng.sql_directly(sql)
    t2.data[0].s.xs.append(5)  # list inside a struct inside the row
    if isinstance(t2.data[0].b, bytearray):
        t2.data[0].b[0] = 0
    t3 = eng.sql_directly(sql)
    assert list(t3.data[0].s.xs) == [2]
    assert bytes(t3.data[0].b) == b"ab"


def test_hits_share_one_arrow_table(eng):
    """A hit copies nothing: every hit wraps the one immutable Arrow table
    the materializing call cached, whether or not the schema holds
    containers, and builds its own rows only when they are read."""
    eng.register_table("rc_share", [{"a": 3}], "a BIGINT")
    for sql in (
        "SELECT a, a * 2 AS b FROM rc_share",
        "SELECT array(a) AS arr, map('k', a) AS m, cast('x' AS BINARY) AS bin "
        "FROM rc_share",
    ):
        t1 = eng.sql_directly(sql)
        t2 = eng.sql_directly(sql)
        t3 = eng.sql_directly(sql)
        assert eng.last_metrics()["result_cache_hit"] is True
        assert t1.arrow is t2.arrow is t3.arrow
        assert t2.data == t3.data and t2.data is not t3.data


def test_mixed_namespaces_do_not_cross_hit(eng):
    eng.register_table("rc_ns", [{"a": 1}], "a BIGINT")
    sql = "SELECT sum(a) AS s FROM rc_ns"
    eng.set_namespace("")
    assert eng.sql_directly(sql).to_list_of_dicts() == [{"s": 1}]
    eng.set_namespace("tenant_b")
    # same SQL, different namespace: must miss (and here fail to resolve
    # into a hit of tenant-a's rows); register different data to prove it
    eng.register_table("rc_ns", [{"a": 100}], "a BIGINT")
    assert eng.sql_directly(sql).to_list_of_dicts() == [{"s": 100}]
    eng.set_namespace("")


def test_per_call_metrics_not_doubled_on_reexecution(eng):
    """Reference resets its metric map per execution
    (DirectExecutionContext.scala:45).  A re-executed cached plan must
    report per-call shuffle values — never the doubled accumulator."""
    eng.spark.read.parquet(
        f"{SF_DIR}/lineitem.parquet"
    ).createOrReplaceTempView("rc_li")
    sql = (
        "SELECT l_returnflag, count(*) AS n FROM rc_li "
        "GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    eng.sql_directly(sql)
    first = eng.last_metrics()
    eng.sql_directly(sql)
    second = eng.last_metrics()
    assert first["shuffle_records_written"] > 0
    # AQE reuses materialized query stages across executions of one plan
    # object, so the honest per-call value for the re-run is either 0
    # (stage reused) or the first call's value — never the doubled sum.
    assert second["shuffle_records_written"] in (0, first["shuffle_records_written"])
    assert second["result_cache_hit"] is False
    assert second["partial"] is False


def test_plan_cache_replay_reports_skipped_stages(eng):
    """A replayed cached plan reuses the shuffle output of its first
    execution: the replay's own tagged stages show that reuse as skipped
    stages and write no shuffle bytes."""
    eng.spark.read.parquet(
        f"{SF_DIR}/lineitem.parquet"
    ).createOrReplaceTempView("rc_replay")
    sql = (
        "SELECT l_linestatus, count(*) AS n FROM rc_replay "
        "GROUP BY l_linestatus ORDER BY l_linestatus"
    )
    eng.sql_directly(sql)
    first = eng.last_metrics()
    assert first["jobs"] >= 1 and first["shuffle_bytes_written"] > 0
    eng.sql_directly(sql)
    replay = eng.last_metrics()
    assert replay["result_cache_hit"] is False
    assert replay["jobs"] >= 1
    assert replay["stages_skipped"] >= 1
    assert replay["shuffle_bytes_written"] == 0
    assert replay["shuffle_records_written"] == 0


_EVICTION_SCRIPT = """
import json, sys
from direct_spark_sql_spark.session import Engine

e = (
    Engine.builder()
    .master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "1")
    # a tiny store: every cleanup evicts the newest SKIPPED stages first
    .config("spark.ui.retainedStages", "4")
    .get_or_create()
)
e.spark.sparkContext.setLogLevel("ERROR")
e.spark.read.parquet(sys.argv[1] + "/lineitem.parquet").createOrReplaceTempView("li")
sql = "SELECT l_linestatus, count(*) AS n FROM li GROUP BY l_linestatus ORDER BY 1"
out = []
for _ in range(12):
    e.sql_directly(sql)
    m = e.last_metrics()
    out.append([m["jobs"], m["stages_skipped"], m["shuffle_bytes_written"]])
print("RESULT:" + json.dumps(out))
e.stop()
"""


def test_stage_rollup_tolerates_evicted_stage_records(tmp_path):
    """Past ``spark.ui.retainedStages`` the status store drops SKIPPED
    stage records first, even ones a moment old, while their job still
    lists them: the rollup must count them as skipped, not fail the call.
    Subprocess because the store's limits are fixed at context start."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _EVICTION_SCRIPT, SF_DIR],
        capture_output=True,
        text=True,
        timeout=300,
        env=dict(os.environ, PYTHONPATH=repo),
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT:"))
    first, *replays = json.loads(line[len("RESULT:"):])
    assert first[0] >= 1 and first[2] > 0
    for jobs, skipped, shuffle_bytes in replays:
        assert jobs >= 1 and skipped >= 1 and shuffle_bytes == 0


@pytest.mark.parametrize("shape", ["aggregate_sort", "shuffle_join"])
def test_stage_rollup_matches_plan_walk_on_fresh_plan(eng, shape):
    """On a plan's first execution every exchange writes its shuffle
    once, so the tagged-stage rollup must equal the per-node SQLMetric
    sums of the executed plan."""
    from pyspark.sql import functions as F

    from direct_spark_sql_spark.session import (
        _job_tag,
        _stage_rollup,
        _walk_plan_metrics,
    )

    spark = eng.spark
    facts = spark.range(0, 20_000, 1, 4).select(
        (F.col("id") % 37).alias("k"), F.col("id").alias("v")
    )
    if shape == "aggregate_sort":
        df = facts.groupBy("k").agg(F.sum("v").alias("s")).orderBy("k")
    else:
        dims = spark.range(0, 37, 1, 2).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        df = facts.hint("shuffle_merge").join(dims, "k").groupBy("w").count()
    with _job_tag(spark.sparkContext) as tag:
        df.collect()
    rollup = _stage_rollup(spark.sparkContext, tag)
    nodes: list = []
    _walk_plan_metrics(df._jdf.queryExecution().executedPlan(), nodes)

    def walk_total(metric: str) -> int:
        return sum(
            v for n in nodes if (v := n["metrics"].get(metric)) is not None and v > 0
        )

    assert rollup["shuffle_records_written"] > 0
    assert rollup["shuffle_bytes_written"] == walk_total("shuffleBytesWritten")
    assert rollup["shuffle_records_written"] == walk_total("shuffleRecordsWritten")


def test_concurrent_calls_keep_their_own_stage_rollups(engine):
    """Job tags are per thread: two engines sharing one SparkContext, each
    hammered from its own thread, must each read only their own call's
    stages — a leaked tag would add the other thread's jobs."""
    import sys
    import threading

    def fresh_sql(mod: int, i: int) -> str:
        # the trailing comment makes every call a fresh plan (a new
        # plan-cache key), so every call writes its shuffle once
        return (
            f"SELECT k, count(*) AS n FROM (SELECT id % {mod} AS k "
            f"FROM range(0, 5000, 1, 4)) GROUP BY k /* {i} */"
        )

    engines = {mod: engine.new_session() for mod in (7, 13)}
    expected = {}
    for mod, e in engines.items():
        e.result_cache_enabled = False
        e.sql_directly(fresh_sql(mod, -1))
        m = e.last_metrics()
        expected[mod] = (m["jobs"], m["shuffle_records_written"])
    assert expected[7] != expected[13]
    seen: dict[int, list] = {7: [], 13: []}

    def worker(mod: int) -> None:
        e = engines[mod]
        for i in range(6):
            e.sql_directly(fresh_sql(mod, i))
            m = e.last_metrics()
            seen[mod].append((m["jobs"], m["shuffle_records_written"]))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(mod,)) for mod in engines]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=240)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    for mod in engines:
        assert seen[mod] == [expected[mod]] * 6


def test_result_cache_hit_reports_materializing_execution_metrics(eng):
    eng.register_table(
        "rc_m", [{"k": i % 5, "v": i} for i in range(1000)], "k INT, v INT"
    )
    sql = "SELECT k, sum(v) AS s FROM rc_m GROUP BY k ORDER BY k"
    eng.sql_directly(sql)
    miss = eng.last_metrics()
    eng.sql_directly(sql)
    hit = eng.last_metrics()
    assert hit["result_cache_hit"] is True and miss["result_cache_hit"] is False
    assert hit["output_rows"] == miss["output_rows"] == 5
    assert hit["shuffle_records_written"] == miss["shuffle_records_written"]


def test_small_ingress_scans_in_one_task(eng):
    """Driver-local lists must not shard across defaultParallelism — a
    5k-row reference table is one partition, so a query over it drains
    on the calling thread without a job (``direct.py``), or scans in one
    task where it runs as a job."""
    eng.register_table(
        "rc_small", [{"a": i} for i in range(5000)], "a BIGINT"
    )
    assert eng.spark.table("rc_small").rdd.getNumPartitions() == 1


def test_oversized_result_not_cached(eng):
    from direct_spark_sql_spark.session import Engine

    small = Engine(eng.spark.newSession(), result_cache_max_bytes=256)
    small.register_table("rc_big", [{"a": i} for i in range(50)], "a BIGINT")
    sql = "SELECT a FROM rc_big ORDER BY a"
    assert small.sql_directly(sql).arrow.nbytes > 256
    small.sql_directly(sql)
    assert small.last_metrics()["result_cache_hit"] is False


def test_soak_result_cache_vs_reregister(eng):
    """Readers hammer a result-cache-eligible query while a writer
    re-registers the referenced view with a new value every few
    iterations.  Every observed result must be a value that was
    registered at some point (never a torn row), and once the writer
    stops, readers must converge on the final value — i.e. an in-flight
    stale result can never poison the cache past an invalidation (the
    epoch guard in sql_directly)."""
    import threading
    import time

    registered: list[int] = [0]
    eng.register_table("rc_soak", [{"a": 0}], "a BIGINT")
    sql = "SELECT max(a) AS m FROM rc_soak"
    errors: list[str] = []
    stop = threading.Event()

    def writer():
        for v in range(1, 30):
            # append BEFORE register: a reader may legitimately observe
            # the new value the instant register_table returns (or even
            # mid-call, once the view swap lands) — observing a value
            # slightly "early" is harmless, observing one never in the
            # list is the actual torn/stale failure being tested
            registered.append(v)
            eng.register_table("rc_soak", [{"a": v}], "a BIGINT")
            time.sleep(0.02)
        stop.set()

    def reader():
        while not stop.is_set():
            m = eng.sql_directly(sql).data[0].m
            if m not in registered:
                errors.append(f"unregistered value observed: {m}")
                return

    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=reader) for _ in range(6)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    # after the writer settles, the cache must serve the FINAL value
    assert eng.sql_directly(sql).data[0].m == 29
    assert eng.sql_directly(sql).data[0].m == 29  # and again, from cache


def test_metrics_history_records_calls(eng):
    eng.register_table("rc_h", [{"a": 1}], "a BIGINT")
    sql = "SELECT sum(a) AS s FROM rc_h"
    start = len(eng.metrics_history(200))
    eng.sql_directly(sql)
    eng.sql_directly(sql)
    hist = eng.metrics_history(200)
    assert len(hist) >= start + 2 or len(hist) == 200
    last_two = hist[-2:]
    assert [h["result_cache_hit"] for h in last_two] == [False, True]
    assert all(h["rows"] == 1 and h["wall_sec"] >= 0 for h in last_two)
    assert all(sql.startswith(h["sql"][:20]) for h in last_two)


def test_result_cache_hit_metrics_frozen_at_put_time(eng):
    """A hit must reproduce the MATERIALIZING execution's metrics even
    when the same plan object executed again between put and hit (e.g.
    cache-bypassed calls, sql_iterator, a concurrent thread) — the
    snapshot is frozen at put time, never re-derived from the live
    accumulators."""
    eng.register_table(
        "rc_frozen", [{"k": i % 7, "v": i} for i in range(2000)], "k INT, v INT"
    )
    sql = "SELECT k, sum(v) AS s FROM rc_frozen GROUP BY k ORDER BY k"
    eng.sql_directly(sql)
    miss = eng.last_metrics()
    eng.result_cache_enabled = False
    try:
        for _ in range(3):  # intervening executions of the same plan object
            eng.sql_directly(sql)
    finally:
        eng.result_cache_enabled = True
    eng.sql_directly(sql)
    hit = eng.last_metrics()
    assert hit["result_cache_hit"] is True
    assert hit["output_rows"] == miss["output_rows"] == 7
    assert hit["shuffle_records_written"] == miss["shuffle_records_written"]
    assert hit["shuffle_bytes_written"] == miss["shuffle_bytes_written"]


def test_new_session_inherits_result_cache_config(engine):
    """An engine built with result caching disabled must not hand out
    child sessions that silently re-enable it."""
    from direct_spark_sql_spark.session import Engine

    parent = Engine(engine.spark, result_cache_size=0)
    assert parent.result_cache_enabled is False
    child = parent.new_session()
    assert child.result_cache_enabled is False
    assert child._result_cache.capacity == 0
    # and an enabled parent's sizing carries over too
    child2 = engine.new_session()
    assert child2.result_cache_enabled == engine.result_cache_enabled
    assert child2._result_cache.capacity == engine._result_cache.capacity


# -- round-5 self-review regression tests ---------------------------------


def test_function_ddl_clears_plan_cache(eng):
    """A (re)defined function must invalidate cached ANALYZED plans too:
    function resolution happens at analysis, so a kept plan would keep
    executing the old implementation and re-poison the result cache."""
    eng.register_table("rc_fn", [{"a": 1}], "a BIGINT")
    eng.sql_directly("SELECT a FROM rc_fn")
    assert eng.cache_stats()["entries"] >= 1
    try:
        eng.sql_directly("CREATE OR REPLACE FUNCTION rc_noop AS 'no.such.Cls'")
    except Exception:
        pass  # class doesn't resolve; the cache sweep precedes resolution
    stats = eng.cache_stats()
    assert stats["entries"] == 0
    assert stats["result_entries"] == 0


def test_invalidation_during_analysis_cannot_cache_stale_plan(
    eng, monkeypatch
):
    """register_table landing between spark.sql() analysis and the plan
    cache put must reject that put (epoch guard): the displaced binding
    would otherwise serve — and re-result-cache — stale rows until the
    NEXT invalidation."""
    eng.register_table("rc_race", [{"a": 1}], "a BIGINT")
    sql = "SELECT max(a) AS m FROM rc_race"
    orig = eng.spark.sql
    fired = {"done": False}

    def hooked(text, **kw):
        df = orig(text, **kw)
        if "rc_race" in text and not fired["done"]:
            fired["done"] = True
            # the invalidation sweep lands in the analysis→put window
            eng.register_table("rc_race", [{"a": 42}], "a BIGINT")
        return df

    monkeypatch.setattr(eng.spark, "sql", hooked)
    eng.sql_directly(sql)  # in-flight call may see either binding
    monkeypatch.undo()
    # the stale plan must not have survived: fresh calls see the new data
    assert eng.sql_directly(sql).to_list_of_dicts() == [{"m": 42}]
    assert eng.sql_directly(sql).to_list_of_dicts() == [{"m": 42}]


def test_sql_iterator_then_sql_directly_metrics_not_doubled(eng):
    """sql_iterator executions tick the same accumulators; the first
    sql_directly on that plan must baseline-subtract them instead of
    reporting (and freezing into the result cache) ~2x metrics."""
    eng.result_cache_enabled = False
    eng.register_table("rc_it", [{"a": i % 5} for i in range(100)], "a BIGINT")
    # REPARTITION hint forces a real exchange: the registered data sits in
    # a single partition, whose SinglePartition output satisfies any
    # clustering, so a plain GROUP BY would plan no shuffle at all
    sql = (
        "SELECT a, count(*) AS c FROM "
        "(SELECT /*+ REPARTITION(8, a) */ a FROM rc_it) "
        "GROUP BY a ORDER BY a"
    )
    assert len(list(eng.sql_iterator(sql))) == 5
    eng.sql_directly(sql)
    m1 = eng.last_metrics()
    eng.sql_directly(sql)
    m2 = eng.last_metrics()
    # the iterator's consumption really did shuffle (cumulative raw
    # accumulators prove it) ...  Axis caveat: with AQE disabled,
    # toLocalIterator's execution doesn't tick this plan instance's write
    # accumulators at all (observed: shuffleRecordsWritten stays 0 while
    # recordsRead shows the reused shuffle output), so no doubling is
    # even possible there and the sanity check is meaningful only under
    # the default adaptive config.
    cumulative = sum(
        v
        for n in m1["operators"]
        if (v := n["metrics"].get("shuffleRecordsWritten")) is not None
        and v > 0
    )
    aqe_on = eng.spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert cumulative > 0 or not aqe_on
    # ... but the per-call readout must baseline it away: the first
    # sql_directly reports the same per-call value as a later one
    # (Spark reuses the completed shuffle stage for a re-collected plan
    # object, so both deltas are typically 0 — without the baseline the
    # first would report the iterator's cumulative count instead)
    assert m1["shuffle_records_written"] == m2["shuffle_records_written"]


def test_result_cache_requires_in_memory_leaves(eng):
    """inputFiles() alone doesn't prove immutability: external relations
    (e.g. JDBC) report no files yet re-read mutable external state.  The
    gate requires every analyzed-plan leaf — including inside subquery
    expressions — to be a known in-memory relation."""
    import os

    from tests.conftest import SF_DIR

    path = os.path.join(SF_DIR, "region.parquet")
    file_df = eng.spark.read.parquet(path)
    assert _plan_facts(file_df).in_memory is False

    eng.register_table("rc_mem", [{"a": 1}], "a BIGINT")
    mem_df = eng.spark.sql("SELECT * FROM rc_mem")
    facts = _plan_facts(mem_df)
    assert facts[:3] == (frozenset({"rc_mem"}), True, True)
    assert facts.rdd_ids == {eng._row_views["rc_mem"].rdd_id}

    # a non-in-memory leaf hiding inside a scalar subquery is caught too
    sub_df = eng.spark.sql(
        f"SELECT (SELECT count(*) FROM parquet.`{path}`) AS c"
    )
    assert _plan_facts(sub_df).in_memory is False

    # CTE refs are pointers, not sources: a CTE over in-memory data stays
    # eligible (the defs are walked through WithCTE), while a CTE over a
    # file relation is still caught through the definition's real leaf
    cte_mem = eng.spark.sql(
        "WITH c AS (SELECT a FROM rc_mem) SELECT count(*) AS n FROM c"
    )
    assert _plan_facts(cte_mem).in_memory is True
    cte_file = eng.spark.sql(
        f"WITH c AS (SELECT * FROM parquet.`{path}`) "
        "SELECT count(*) AS n FROM c"
    )
    assert _plan_facts(cte_file).in_memory is False


def test_metrics_history_zero_and_negative_n(eng):
    eng.sql_directly("SELECT 1 AS x")
    assert eng.metrics_history(0) == []
    assert eng.metrics_history(-3) == []
    assert len(eng.metrics_history(1)) == 1
