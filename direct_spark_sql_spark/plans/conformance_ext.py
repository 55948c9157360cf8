"""Conformance corpus, part 2: SQL-surface breadth beyond the reference's
own test suite.

The reference inherits the entire Spark FunctionRegistry through the reused
analyzer (SURVEY.md §2.9 — DirectSessionStateBuilder.scala:49-109), so its
*capability* surface includes every built-in scalar/aggregate/window
function even though its suite only exercises a handful.  This module pins
down the breadth the reference gets implicitly: ordered-set aggregates
(percentile_disc/percentile_cont), GROUPING/GROUPING_ID over rollups,
min_by/max_by, LATERAL correlated subqueries (a superset — the reference
*rejects* scalar subqueries, DirectPlanConverter.scala:34-47), null-aware
NOT IN anti-join semantics, the ntile/percent_rank/cume_dist window family,
UNPIVOT via stack(), approx_count_distinct (reference tests it at
DirectExecSuite.scala:72-82), sliding batch time-windows, and extended
string/array function suites.

Cross-engine notes (each discovered by differential testing, kept so the
oracles stay exact):

- DuckDB ``arg_max`` rejects struct keys → the min_by/max_by oracle uses
  ``max(struct_pack(...)).field`` (identical lexicographic semantics).
- DuckDB has no ``initcap`` → emulated for single-token strings.
- ``slice(arr, -2, 2)`` on a 1-element array yields ``[]`` in Spark but
  DuckDB's ``arr[-2:]`` clamps → both sides use explicit positive indexes.
- DuckDB ``array_to_string`` of an empty ``list_filter`` result is NULL →
  COALESCE on the oracle side.
- Array-valued outputs egress as joined strings: the comparator sorts rows
  by value, and arrays aren't orderable in pandas.
- approx_count_distinct uses rsd=0.01 with a ±5% acceptance bound: the
  default rsd=0.05 sketch actually misses 5% on one sf0.01 group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from direct_spark_sql_spark.plans.base import Query, derive_with_confs, sql_query
from direct_spark_sql_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# Ordered-set aggregates: percentile_disc / percentile_cont / median
# ---------------------------------------------------------------------------

_PERCENTILE_SQL = """
SELECT l_returnflag,
       percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_disc,
       percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50_disc,
       percentile_disc(0.9)  WITHIN GROUP (ORDER BY l_quantity) AS p90_disc,
       percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50_cont,
       median(l_quantity) AS med
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-set aggregates; quantities are integral doubles so the
    midpoint interpolation of percentile_cont is exact in both engines."""
    return sql_query(spark, sf_dir, _PERCENTILE_SQL)


# Winsorized robust statistics: clip at the per-group P10/P90 discrete
# percentiles (actual data values, so thresholds are identical in both
# engines), then an exact-decimal clipped mean — the outlier-robust
# aggregation a feature pipeline applies before normalization.  One SQL
# text serves both engines.
_WINSORIZE_SQL = """
WITH p AS (
  SELECT l_returnflag,
         percentile_disc(0.1) WITHIN GROUP (ORDER BY l_extendedprice) AS p10,
         percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS p90
  FROM lineitem GROUP BY l_returnflag
),
w AS (
  SELECT l.l_returnflag,
         CAST(p.p10 AS DOUBLE) AS p10,
         CAST(p.p90 AS DOUBLE) AS p90,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(ROUND(SUM(CAST(LEAST(GREATEST(l.l_extendedprice, p.p10), p.p90)
                                  AS DECIMAL(14,2))), 2)
                   AS DECIMAL(24,2)) AS DOUBLE) AS winsorized_sum
  FROM lineitem l JOIN p ON p.l_returnflag = l.l_returnflag
  GROUP BY l.l_returnflag, p.p10, p.p90
)
SELECT l_returnflag, p10, p90, n, winsorized_sum,
       winsorized_sum / CAST(n AS DOUBLE) AS winsorized_mean
FROM w ORDER BY l_returnflag
"""


def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _WINSORIZE_SQL)


# ---------------------------------------------------------------------------
# GROUPING / GROUPING_ID over ROLLUP (ExpandDirectExec surface —
# ExpandDirectExec.scala:33-77 is the physical op behind grouping sets)
# ---------------------------------------------------------------------------

_GROUPING_ID_SQL = """
SELECT o_orderpriority, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
       CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY gid, o_orderpriority, o_orderstatus
"""


def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _GROUPING_ID_SQL)


# ---------------------------------------------------------------------------
# min_by / max_by with deterministic struct tiebreak
# ---------------------------------------------------------------------------

_MINBY_MAXBY_SPARK = """
SELECT o_orderpriority,
       max_by(o_orderkey, struct(o_totalprice, o_orderkey)) AS top_order,
       min_by(o_orderkey, struct(o_totalprice, o_orderkey)) AS bottom_order
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

_MINBY_MAXBY_ORACLE = """
SELECT o_orderpriority,
       (max(struct_pack(p := o_totalprice, k := o_orderkey))).k AS top_order,
       (min(struct_pack(p := o_totalprice, k := o_orderkey))).k AS bottom_order
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def agg_minby_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The struct key (price, orderkey) makes ties impossible — orderkey is
    unique — so both engines pick the identical row."""
    return sql_query(spark, sf_dir, _MINBY_MAXBY_SPARK)


# ---------------------------------------------------------------------------
# LATERAL correlated subquery (superset of the reference, which throws on
# scalar subqueries — DirectPlanConverter.scala:34-47)
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT r_name, t.n_nations, t.min_nation
FROM region, LATERAL (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nations, MIN(n_name) AS min_nation
  FROM nation WHERE n_regionkey = r_regionkey
) t ORDER BY r_name
"""


def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _LATERAL_SQL)


# ---------------------------------------------------------------------------
# Recursive CTE (WITH RECURSIVE) — a superset surface: the reference's SQL
# dialect has no recursion at all; Spark 4.x executes UNION ALL recursion
# natively (UnionLoopExec), DuckDB likewise.  The walk is the binary-tree
# ancestor chain doc_id -> doc_id/2 -> ... -> 1, so recursion depth is
# log2(max doc_id): bounded and data-driven, never cyclic (Spark rejects
# UNION-distinct recursion, so termination must come from the data).
# ---------------------------------------------------------------------------

# Round 13 (guide §1.2 — fewer passes): the recursive member walks in
# JUMPS of composed halvings — ``cur DIV 2^k`` with ``depth + k`` for the
# largest menu step 2^k <= cur — instead of one halving per iteration.
# Integer division composes exactly ((n DIV 2^a) DIV 2^b = n DIV 2^(a+b)),
# and a jump taken only when cur >= 2^k cannot skip the terminal (every
# intermediate halving stays >= 2), so each document's terminal
# (depth, cur<=1) row — the only rows the outer SELECT keeps — is
# bit-identical to the DIV-2 walk the DuckDB oracle still runs.  What
# changes is the iteration count: ~log2(max_id)/8 UnionLoop iterations
# instead of log2(max_id), i.e. ~4 jobs instead of ~13 at sf0.1 (each
# iteration is a full scheduled job — measured 176 jobs / 4 runs before).
_RECURSIVE_DEPTH_SPARK = """
WITH RECURSIVE walk AS (
  SELECT doc_id, doc_id AS cur, 0 AS depth FROM documents
  UNION ALL
  SELECT doc_id,
         CASE WHEN cur >= 65536 THEN cur DIV 65536
              WHEN cur >= 256   THEN cur DIV 256
              WHEN cur >= 16    THEN cur DIV 16
              WHEN cur >= 4     THEN cur DIV 4
              ELSE cur DIV 2 END AS cur,
         depth + CASE WHEN cur >= 65536 THEN 16
                      WHEN cur >= 256   THEN 8
                      WHEN cur >= 16    THEN 4
                      WHEN cur >= 4     THEN 2
                      ELSE 1 END AS depth
  FROM walk WHERE cur > 1
)
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM walk WHERE cur <= 1
GROUP BY depth ORDER BY depth
"""

_RECURSIVE_DEPTH_ORACLE = """
WITH RECURSIVE walk AS (
  SELECT doc_id, doc_id AS cur, 0 AS depth FROM documents
  UNION ALL
  SELECT doc_id, cur // 2 AS cur, depth + 1 AS depth FROM walk WHERE cur > 1
)
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM walk WHERE cur <= 1
GROUP BY depth ORDER BY depth
"""


def recursive_cte_tree_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale contract (VERDICT r10 #2): total recursion rows are
    n_docs × ~log₂(max doc_id) — the walk's DEPTH is bounded at 64
    iterations by the id width, but the ROW count grows linearly with
    the corpus, and Spark's default ``cteRecursionRowLimit`` of 1M is a
    runaway-recursion guard, not a data-size budget: the 30× sf0.1
    probe crosses it (≈10M rows) and hard-fails ``UnionLoopExec``
    (this single uncaught error destroyed the round-10 bench record).
    The limit is raised to 2e9 (the conf is a JVM Int) — safe because
    termination comes
    from the provably-shrinking ``cur DIV 2`` walk (≤64 iterations),
    so the limit's anti-runaway purpose is already served by the data.
    On a real 100 TB corpus the per-iteration frontier still shuffles
    and spills normally; only the cumulative-row guard is widened.

    The widened limit is scoped to THIS query (ADVICE r11): the plan is
    derived on a cloned session (plans/base.py:derive_with_confs), and
    the DataFrame runs there, so the shared session keeps the
    runaway-recursion guard the conf exists for, also for concurrent
    queries."""
    return derive_with_confs(
        spark,
        {"spark.sql.cteRecursionRowLimit": "2000000000"},
        lambda ns: sql_query(ns, sf_dir, _RECURSIVE_DEPTH_SPARK),
    )


# ---------------------------------------------------------------------------
# NOT IN null semantics → Spark's null-aware anti join
# ---------------------------------------------------------------------------

_NOT_IN_SQL = """
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_no_orders,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
    WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                                        ELSE o_custkey END
                            FROM orders)) AS n_with_null_list
"""


def join_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued NOT IN: one NULL in the subquery list makes the
    predicate never-true, so the second count must be 0 — the null-aware
    anti-join corner that naive anti-join rewrites get wrong."""
    return sql_query(spark, sf_dir, _NOT_IN_SQL)


# ---------------------------------------------------------------------------
# ntile / percent_rank / cume_dist (WindowDirectExecBase ranking surface,
# WindowDirectExecBase.scala:140-154)
# ---------------------------------------------------------------------------

_NTILE_SQL = """
SELECT o_orderkey,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd,
       CAST(row_number() OVER w AS BIGINT) AS rn
FROM orders
WHERE o_orderkey <= 2000
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
"""


def window_ntile_prank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank = (rank-1)/(n-1) and cume_dist = rank/n are single IEEE
    divisions of identical integers — deterministic across engines; the
    (price, orderkey) sort key is unique so ranks are unambiguous."""
    return sql_query(spark, sf_dir, _NTILE_SQL)


# ---------------------------------------------------------------------------
# UNPIVOT via stack() (GenerateDirectExec-adjacent UDTF surface)
# ---------------------------------------------------------------------------

_UNPIVOT_SPARK = """
SELECT n_name, k, CAST(v AS BIGINT) AS v FROM (
  SELECT n_name, stack(2, 'nationkey', n_nationkey, 'regionkey', n_regionkey) AS (k, v)
  FROM nation
) ORDER BY n_name, k
"""

_UNPIVOT_ORACLE = """
SELECT n_name, k, CAST(v AS BIGINT) AS v FROM (
  SELECT n_name, 'nationkey' AS k, n_nationkey AS v FROM nation
  UNION ALL
  SELECT n_name, 'regionkey' AS k, n_regionkey AS v FROM nation
) ORDER BY n_name, k
"""


def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _UNPIVOT_SPARK)


# ---------------------------------------------------------------------------
# Native UNPIVOT syntax (the SQL:2016 form; the stack() spelling above is
# the generator-level equivalent) — wide-to-long without listing UNION ALL
# branches.
# ---------------------------------------------------------------------------

_UNPIVOT_NATIVE_SPARK = """
SELECT n_name, k, CAST(v AS BIGINT) AS v
FROM nation
UNPIVOT (v FOR k IN (n_nationkey AS `nationkey`, n_regionkey AS `regionkey`))
ORDER BY n_name, k
"""


def unpivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _UNPIVOT_NATIVE_SPARK)


# ---------------------------------------------------------------------------
# Higher-order function suite: exists / forall / aggregate (reduce) /
# filter / zip_with — the lambda surface that keeps per-row array logic
# inside the JVM instead of a Python UDF.
# ---------------------------------------------------------------------------

_HOF_SPARK = """
WITH per_order AS (
  SELECT l_orderkey, array_sort(collect_list(CAST(l_quantity AS INT))) AS qtys
  FROM lineitem WHERE l_orderkey <= 300 GROUP BY l_orderkey
)
SELECT l_orderkey,
       exists(qtys, x -> x >= 45) AS any_big,
       forall(qtys, x -> x >= 5) AS all_ge5,
       CAST(aggregate(qtys, 0, (acc, x) -> acc + x) AS BIGINT) AS total,
       CAST(size(filter(qtys, x -> x % 2 = 0)) AS BIGINT) AS n_even,
       CAST(aggregate(zip_with(qtys, reverse(qtys), (a, b) -> a * b),
                      0, (acc, x) -> acc + x) AS BIGINT) AS dot_rev
FROM per_order ORDER BY l_orderkey
"""

_HOF_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey, list_sort(array_agg(CAST(l_quantity AS INTEGER))) AS qtys
  FROM lineitem WHERE l_orderkey <= 300 GROUP BY l_orderkey
)
SELECT l_orderkey,
       len(list_filter(qtys, x -> x >= 45)) > 0 AS any_big,
       len(list_filter(qtys, x -> NOT (x >= 5))) = 0 AS all_ge5,
       CAST(list_sum(qtys) AS BIGINT) AS total,
       CAST(len(list_filter(qtys, x -> x % 2 = 0)) AS BIGINT) AS n_even,
       CAST(list_dot_product(qtys, list_reverse(qtys)) AS BIGINT) AS dot_rev
FROM per_order ORDER BY l_orderkey
"""


def array_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _HOF_SPARK)


# ---------------------------------------------------------------------------
# approx_count_distinct (HLL++) with an exactness-bounded oracle
# (reference test: DirectExecSuite.scala:72-82)
# ---------------------------------------------------------------------------

_APPROX_SPARK = """
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_cnt,
       abs(approx_count_distinct(o_custkey, 0.01) - COUNT(DISTINCT o_custkey))
         <= CAST(0.05 * COUNT(DISTINCT o_custkey) AS BIGINT) AS approx_ok
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

_APPROX_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_cnt,
       TRUE AS approx_ok
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def agg_approx_distinct_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketches differ between engines, so the estimate itself can't
    hash-match; instead BOTH engines agree on the exact count and Spark
    additionally asserts its estimate lands within ±5% (deterministic for a
    fixed dataset — the sketch is seedless)."""
    return sql_query(spark, sf_dir, _APPROX_SPARK)


# ---------------------------------------------------------------------------
# Sliding batch time-window (size 1 h, slide 30 min): each event falls in
# exactly 2 windows.  The oracle replays the expansion with integer-µs
# arithmetic (epoch_us, never double seconds — see cross-engine notes).
# ---------------------------------------------------------------------------

def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(24,2)").cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type", "n_events", "sum_value",
        )
        .orderBy("win_start", "event_type")
    )


_SLIDING_ORACLE = """
WITH ex AS (
  SELECT event_type, value,
         (epoch_us(ts) // 1800000000) * 1800000000 AS m
  FROM events
),
win AS (
  SELECT event_type, value, make_timestamp(m - off) AS win_start
  FROM ex CROSS JOIN (SELECT unnest([0, 1800000000]) AS off) offs
)
SELECT win_start, win_start + INTERVAL 1 HOUR AS win_end, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DECIMAL(24,2)) AS DOUBLE) AS sum_value
FROM win GROUP BY win_start, event_type ORDER BY win_start, event_type
"""


def events_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window DISTINCT cardinality (unique active users per 2-hour
    window sliding hourly) — distinct aggregation under the window
    generator, the expensive variant of the sliding total (each event
    lands in 2 windows and dedup happens per window)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "n_users",
            "n_events",
        )
        .orderBy("win_start")
    )


_SLIDING_DISTINCT_ORACLE = """
WITH ex AS (
  SELECT user_id, (epoch_us(ts) // 3600000000) * 3600000000 AS m
  FROM events
),
win AS (
  SELECT user_id, make_timestamp(m - off) AS win_start
  FROM ex CROSS JOIN (SELECT unnest([0, 3600000000]) AS off) offs
)
SELECT win_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM win GROUP BY win_start ORDER BY win_start
"""


# ---------------------------------------------------------------------------
# Extended string function suite
# ---------------------------------------------------------------------------

_STRING_EXT_SPARK = """
SELECT c_custkey,
       split_part(c_name, '#', 2) AS name_num,
       translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr,
       initcap(lower(c_name)) AS name_cap,
       lpad(CAST(c_nationkey AS STRING), 4, '0') AS nat_pad,
       rpad(c_mktsegment, 12, '.') AS seg_pad,
       repeat('ab', 3) AS rep,
       reverse(c_mktsegment) AS seg_rev,
       left(c_name, 8) AS name_l,
       right(c_name, 4) AS name_r,
       CAST(instr(c_mktsegment, 'U') AS BIGINT) AS pos_u,
       regexp_extract(c_name, '#(0*)([0-9]+)$', 2) AS name_digits,
       CAST(regexp_count(c_name, '0') AS BIGINT) AS n_zeros,
       regexp_replace(c_name, '[0-9]+', '#') AS name_masked,
       ltrim(rtrim('  x  ')) AS trimmed
FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey
"""

_STRING_EXT_ORACLE = """
SELECT c_custkey,
       split_part(c_name, '#', 2) AS name_num,
       translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr,
       upper(substr(c_name, 1, 1)) || substr(lower(c_name), 2) AS name_cap,
       lpad(CAST(c_nationkey AS VARCHAR), 4, '0') AS nat_pad,
       rpad(c_mktsegment, 12, '.') AS seg_pad,
       repeat('ab', 3) AS rep,
       reverse(c_mktsegment) AS seg_rev,
       left(c_name, 8) AS name_l,
       right(c_name, 4) AS name_r,
       CAST(instr(c_mktsegment, 'U') AS BIGINT) AS pos_u,
       COALESCE(regexp_extract(c_name, '#(0*)([0-9]+)$', 2), '') AS name_digits,
       CAST(len(regexp_extract_all(c_name, '0')) AS BIGINT) AS n_zeros,
       regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
       ltrim(rtrim('  x  ')) AS trimmed
FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey
"""


def string_functions_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """initcap has no DuckDB twin: the oracle emulates it for the
    single-token customer names (upper first char + lower rest)."""
    return sql_query(spark, sf_dir, _STRING_EXT_SPARK)


# ---------------------------------------------------------------------------
# Extended array function suite (string egress — see module notes)
# ---------------------------------------------------------------------------

_ARRAY_EXT_SPARK = """
WITH per_order AS (
  SELECT l_orderkey, array_sort(collect_list(CAST(l_quantity AS INT))) AS qtys
  FROM lineitem WHERE l_orderkey <= 300 GROUP BY l_orderkey
)
SELECT l_orderkey,
       array_join(slice(qtys, 1, 3), ',') AS first3,
       array_join(reverse(qtys), ',') AS rev,
       CAST(array_position(qtys, element_at(qtys, 1)) AS BIGINT) AS pos_min,
       array_join(array_remove(qtys, element_at(qtys, 1)), ',') AS no_min,
       array_join(sequence(1, CAST(size(qtys) AS INT)), ',') AS idxs,
       array_join(flatten(array(slice(qtys, 1, 2),
                                slice(qtys, greatest(CAST(size(qtys) AS INT) - 1, 1), 2))), ',') AS ends,
       array_join(array_repeat(element_at(qtys, 1), 2), ',') AS min_twice,
       arrays_overlap(qtys, array(1, 2, 3)) AS has_small
FROM per_order ORDER BY l_orderkey
"""

_ARRAY_EXT_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey, list_sort(array_agg(CAST(l_quantity AS INTEGER))) AS qtys
  FROM lineitem WHERE l_orderkey <= 300 GROUP BY l_orderkey
)
SELECT l_orderkey,
       array_to_string(qtys[1:3], ',') AS first3,
       array_to_string(list_reverse(qtys), ',') AS rev,
       CAST(list_position(qtys, qtys[1]) AS BIGINT) AS pos_min,
       COALESCE(array_to_string(list_filter(qtys, x -> x != qtys[1]), ','), '') AS no_min,
       array_to_string(range(1, len(qtys) + 1), ',') AS idxs,
       array_to_string(flatten([qtys[1:2], qtys[greatest(len(qtys) - 1, 1):len(qtys)]]), ',') AS ends,
       array_to_string([qtys[1], qtys[1]], ',') AS min_twice,
       len(list_intersect(qtys, [1, 2, 3])) > 0 AS has_small
FROM per_order ORDER BY l_orderkey
"""


def array_functions_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _ARRAY_EXT_SPARK)


# ---------------------------------------------------------------------------
# JSON function suite: json_tuple (generator — must sit in a LATERAL VIEW,
# Spark rejects it nested in expressions), from_json struct access, to_json
# round-trip.  Reference surface: the inherited FunctionRegistry plus
# GenerateDirectExec for json_tuple (GenerateDirectExec.scala:53-116).
# ---------------------------------------------------------------------------

_JSON_SUITE_SPARK = """
SELECT event_id,
       CAST(jt.jk AS BIGINT) AS jt_k,
       from_json(props, 'k BIGINT').k AS fj_k,
       to_json(from_json(props, 'k BIGINT')) AS rt,
       CAST(get_json_object(props, '$.k') AS BIGINT) + 1 AS k_plus
FROM events
LATERAL VIEW json_tuple(props, 'k') jt AS jk
WHERE event_id <= 500 ORDER BY event_id
"""

_JSON_SUITE_ORACLE = """
SELECT event_id,
       CAST(props ->> 'k' AS BIGINT) AS jt_k,
       CAST(props ->> 'k' AS BIGINT) AS fj_k,
       '{"k":' || (props ->> 'k') || '}' AS rt,
       CAST(props ->> 'k' AS BIGINT) + 1 AS k_plus
FROM events WHERE event_id <= 500 ORDER BY event_id
"""


def events_json_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _JSON_SUITE_SPARK)


# ---------------------------------------------------------------------------
# Equi-depth histogram via NTILE: equal-POPULATION buckets (the planner /
# profiling complement to agg_histogram's equal-WIDTH buckets).  Ties are
# broken by the key so the bucket assignment is deterministic in both
# engines.
# ---------------------------------------------------------------------------

_EQUIDEPTH_SPARK = """
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(c_acctbal) AS lo,
       MAX(c_acctbal) AS hi
FROM (
  SELECT c_acctbal,
         CAST(NTILE(8) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS bucket
  FROM customer
)
GROUP BY bucket ORDER BY bucket
"""


def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _EQUIDEPTH_SPARK)


# ---------------------------------------------------------------------------
# String collations (Spark 4): comparison semantics declared on the TYPE
# (here UTF8_LCASE = case-insensitive) instead of lower()-wrapping every
# predicate — at scale that keeps the raw column usable for pushdown/
# statistics while comparisons follow the collation.  The output is
# canonicalized with lower() so the result is deterministic and the
# DuckDB oracle (which expresses the same semantics with lower()) is
# exact.
# ---------------------------------------------------------------------------

_COLLATION_SPARK = """
SELECT lower(et) AS event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT event_type COLLATE UTF8_LCASE AS et FROM events)
WHERE et IN ('CLICK', 'Purchase', 'ERROR')
GROUP BY lower(et) ORDER BY event_type
"""


def string_collation_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _COLLATION_SPARK)


COLLATION_ORACLE = """
SELECT lower(event_type) AS event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events
WHERE lower(event_type) IN ('click', 'purchase', 'error')
GROUP BY lower(event_type) ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Join-strategy hints: the knob users reach for when the optimizer's
# stats-based choice is wrong at scale (tiny-looking dim that explodes,
# or a big-looking side that's actually filtered small).  The hint must
# change the PLAN, never the RESULT — both are pinned.
# ---------------------------------------------------------------------------

_JOIN_HINT_SPARK = """
SELECT /*+ BROADCAST(n) */ n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY n.n_name
"""


def join_hint_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL BROADCAST hint honored even with auto-broadcast disabled; the
    BroadcastHashJoin plan shape is pinned in tests/test_plan_shapes.py.
    The -1 threshold applies only to this query: the plan is derived on a
    cloned session (plans/base.py:derive_with_confs), so concurrent
    queries on the shared session never observe it."""
    return derive_with_confs(
        spark,
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
        lambda ns: sql_query(ns, sf_dir, _JOIN_HINT_SPARK),
    )


JOIN_HINT_ORACLE = """
SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY n.n_name
"""


# ---------------------------------------------------------------------------
# unionByName: schema-aligned union with NULL-fill for missing columns —
# the schema-drift-tolerant append (DataFrame-only surface; SQL UNION is
# positional).
# ---------------------------------------------------------------------------

def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two projections with different column order and one disjoint
    column each, unioned by NAME with allowMissingColumns: order must not
    matter and the missing sides must NULL-fill."""
    from direct_spark_sql_spark.sources.registry import load_table

    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_custkey") <= 100).select(
        "c_custkey", "c_name", F.col("c_acctbal").alias("acctbal")
    )
    b = c.filter((F.col("c_custkey") > 100) & (F.col("c_custkey") <= 200)).select(
        F.col("c_name"),  # deliberately different column order
        F.col("c_custkey"),
        F.col("c_nationkey").alias("nationkey"),
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return u.select(
        "c_custkey",
        "c_name",
        "acctbal",
        F.col("nationkey").cast("long").alias("nationkey"),
    ).orderBy("c_custkey")


UNION_BY_NAME_ORACLE = """
SELECT c_custkey, c_name, c_acctbal AS acctbal, CAST(NULL AS BIGINT) AS nationkey
FROM customer WHERE c_custkey <= 100
UNION ALL
SELECT c_custkey, c_name, NULL, CAST(c_nationkey AS BIGINT)
FROM customer WHERE c_custkey > 100 AND c_custkey <= 200
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# VariantType (Spark 4): parse-once binary semi-structured representation —
# at scale, repeated get_json_object calls re-parse the JSON string per
# extraction, while variant_get navigates the parsed binary directly.
# The superset JSON surface beyond events_json_extract/_suite.
# ---------------------------------------------------------------------------

def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_json(props) → VariantType, typed path extraction with
    variant_get, and a NULL-safe try_variant_get miss; aggregated per
    event_type so every row's extraction feeds the check."""
    from direct_spark_sql_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.parse_json("props").alias("v"),
    )
    k = F.variant_get("v", "$.k", "long")
    miss = F.try_variant_get("v", "$.absent", "long")
    return (
        v.select("event_type", k.alias("k"), miss.alias("m"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
            F.count("m").cast("long").alias("n_absent_nonnull"),
        )
        .orderBy("event_type")
    )


EVENTS_VARIANT_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(COUNT(CAST(json_extract_string(props, '$.absent') AS BIGINT)) AS BIGINT)
         AS n_absent_nonnull
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# INTERSECT ALL / EXCEPT ALL (multiplicity-preserving set ops; Catalyst
# rewrites them to aggregated joins — the distinct variants live in
# conformance.py).  Counts aggregated so the multiplicity is what's checked.
# ---------------------------------------------------------------------------

_INTERSECT_ALL_SQL = """
SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT c_nationkey AS nationkey FROM customer WHERE c_custkey <= 500
  INTERSECT ALL
  SELECT s_nationkey FROM supplier
) GROUP BY nationkey ORDER BY nationkey
"""

_EXCEPT_ALL_SQL = """
SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT c_nationkey AS nationkey FROM customer WHERE c_custkey <= 500
  EXCEPT ALL
  SELECT s_nationkey FROM supplier
) GROUP BY nationkey ORDER BY nationkey
"""


def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _INTERSECT_ALL_SQL)


def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _EXCEPT_ALL_SQL)


# ---------------------------------------------------------------------------
# LATERAL VIEW OUTER posexplode — the outer=true generator corner
# (GenerateDirectExec.scala:86-87, 99-100: null row for empty output).
# ---------------------------------------------------------------------------

_EXPLODE_OUTER_SPARK = """
SELECT o_orderkey, pos, qty FROM (
  SELECT o.o_orderkey,
         CASE WHEN o.o_orderstatus = 'P' THEN array()
              ELSE qtys END AS arr
  FROM orders o JOIN (
    SELECT l_orderkey, array_sort(collect_list(CAST(l_quantity AS INT))) AS qtys
    FROM lineitem GROUP BY l_orderkey
  ) l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey <= 300
)
LATERAL VIEW OUTER posexplode(arr) t AS pos, qty
ORDER BY o_orderkey, pos
"""

_EXPLODE_OUTER_ORACLE = """
WITH base AS (
  SELECT o.o_orderkey,
         CASE WHEN o.o_orderstatus = 'P' THEN []
              ELSE qtys END AS arr
  FROM orders o JOIN (
    SELECT l_orderkey, list_sort(array_agg(CAST(l_quantity AS INTEGER))) AS qtys
    FROM lineitem GROUP BY l_orderkey
  ) l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey <= 300
)
SELECT o_orderkey,
       CASE WHEN len(arr) = 0 THEN NULL ELSE CAST(u.i - 1 AS INTEGER) END AS pos,
       CASE WHEN len(arr) = 0 THEN NULL ELSE arr[CAST(u.i AS INTEGER)] END AS qty
FROM base
LEFT JOIN LATERAL (SELECT unnest(range(1, greatest(len(arr), 1) + 1)) AS i) u ON TRUE
WHERE u.i <= greatest(len(arr), 1)
ORDER BY o_orderkey, pos
"""


def explode_outer_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with status 'P' get an empty array; OUTER posexplode must
    still emit one (orderkey, NULL, NULL) row for them."""
    return sql_query(spark, sf_dir, _EXPLODE_OUTER_SPARK)


# ---------------------------------------------------------------------------
# Bitwise aggregates + count_if
# ---------------------------------------------------------------------------

_BITWISE_SQL = """
SELECT o_orderpriority,
       CAST(bit_and(o_orderkey) AS BIGINT) AS band,
       CAST(bit_or(o_orderkey) AS BIGINT) AS bor,
       CAST(bit_xor(o_orderkey) AS BIGINT) AS bxor,
       CAST(count_if(o_orderkey % 2 = 0) AS BIGINT) AS n_even
FROM orders WHERE o_orderkey <= 1000 GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _BITWISE_SQL)


# ---------------------------------------------------------------------------
# Math scalar suite — the cross-engine-safe subset: abs/ceil/floor/sign/%,
# round-to-1-decimal, sqrt (IEEE correctly-rounded everywhere), x*x, and
# greatest/least.  exp/ln/pow are deliberately absent: libm implementations
# may differ in the last ULP between engines.
# ---------------------------------------------------------------------------

_MATH_SQL = """
SELECT o_orderkey,
       abs(-o_totalprice) AS ab,
       CAST(ceil(o_totalprice) AS BIGINT) AS ce,
       CAST(floor(o_totalprice) AS BIGINT) AS fl,
       round(o_totalprice, 1) AS rnd1,
       CAST(sign(o_totalprice - 150000) AS BIGINT) AS sg,
       CAST(o_orderkey % 7 AS BIGINT) AS md,
       sqrt(o_totalprice) AS sq,
       o_totalprice * o_totalprice AS p2,
       greatest(o_totalprice, 100000.0) AS gr,
       least(o_totalprice, 100000.0) AS le
FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey
"""


def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _MATH_SQL)


# ---------------------------------------------------------------------------
# Aggregate FILTER clause + several DISTINCT aggregates in one query (the
# Catalyst count-distinct→Expand rewrite the reference leans on —
# SURVEY.md §2.4 "distinct agg")
# ---------------------------------------------------------------------------

_FILTER_DISTINCT_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
       CAST(COUNT(*) FILTER (WHERE l_discount = 0) AS BIGINT) AS n_nodisc,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_part,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_linenumber = 1) AS DOUBLE) AS qty_l1
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def agg_filter_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _FILTER_DISTINCT_SQL)


# ---------------------------------------------------------------------------
# try_* error-safe functions (NULL instead of error/overflow)
# ---------------------------------------------------------------------------

_TRY_SPARK = """
SELECT o_orderkey,
       try_divide(o_totalprice, o_orderkey % 3) AS td,
       try_cast(o_orderstatus AS INT) AS tc,
       try_add(o_orderkey, 9223372036854775807) AS ta,
       CAST(try_to_number('12.34', '99.99') AS DOUBLE) AS tn
FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey
"""

_TRY_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice / (o_orderkey % 3) END AS td,
       TRY_CAST(o_orderstatus AS INTEGER) AS tc,
       CASE WHEN o_orderkey = 0 THEN 9223372036854775807 END AS ta,
       CAST(12.34 AS DOUBLE) AS tn
FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey
"""


def try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_divide → NULL on /0, try_cast → NULL on bad parse, try_add →
    NULL on BIGINT overflow (except orderkey 0, which doesn't overflow —
    the oracle spells out both branches)."""
    return sql_query(spark, sf_dir, _TRY_SPARK)


# ---------------------------------------------------------------------------
# Date arithmetic suite
# ---------------------------------------------------------------------------

_DATE_ARITH_SPARK = """
SELECT o_orderkey,
       date_add(CAST(o_orderdate AS DATE), 45) AS plus45,
       date_sub(CAST(o_orderdate AS DATE), 10) AS minus10,
       CAST(datediff(DATE '1998-12-31', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_left,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
       add_months(CAST(o_orderdate AS DATE), 2) AS plus2m,
       CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
       CAST(weekofyear(o_orderdate) AS BIGINT) AS woy,
       CAST(dayofyear(o_orderdate) AS BIGINT) AS doy
FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey
"""

_DATE_ARITH_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) + 45 AS plus45,
       CAST(o_orderdate AS DATE) - 10 AS minus10,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_left,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
       CAST(weekofyear(o_orderdate) AS BIGINT) AS woy,
       CAST(dayofyear(o_orderdate) AS BIGINT) AS doy
FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey
"""


def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add/sub/diff/last_day/trunc-week/add_months + day-of extractors.
    DuckDB counts dayofweek from 0=Sunday where Spark counts from
    1=Sunday — the oracle shifts by one."""
    return sql_query(spark, sf_dir, _DATE_ARITH_SPARK)


# ---------------------------------------------------------------------------
# Explicit NULLS FIRST / NULLS LAST ordering (sort + window order specs)
# ---------------------------------------------------------------------------

_NULLS_ORDER_SQL = """
SELECT c_custkey, n_orders,
       CAST(row_number() OVER (ORDER BY n_orders DESC NULLS LAST, c_custkey) AS BIGINT) AS rn
FROM (
  SELECT c_custkey, CASE WHEN COUNT(o_orderkey) = 0 THEN NULL
                         ELSE CAST(COUNT(o_orderkey) AS BIGINT) END AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  WHERE c_custkey <= 300
  GROUP BY c_custkey
)
ORDER BY n_orders ASC NULLS FIRST, c_custkey
"""


def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _NULLS_ORDER_SQL)


# ---------------------------------------------------------------------------
# Built-in relational pivot (df.groupBy().pivot().agg()) — the manual
# CASE-WHEN twin lives in conformance.py (agg_pivot_manual).  Spark yields
# NULL for absent (group, pivot-value) combos where the count_if oracle
# yields 0 — coalesced on the Spark side.
# ---------------------------------------------------------------------------

def agg_pivot_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)).cast("long"))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


_PIVOT_BUILTIN_ORACLE = """
SELECT o_orderpriority,
       CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_f,
       CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS n_o,
       CAST(count_if(o_orderstatus = 'P') AS BIGINT) AS n_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# inline() generator: array<struct> → rows (the remaining UDTF shape after
# explode/posexplode/json_tuple/stack)
# ---------------------------------------------------------------------------

_INLINE_SPARK = """
SELECT n_name, k, CAST(v AS BIGINT) AS v FROM (
  SELECT n_name,
         array(named_struct('k', 'nat', 'v', n_nationkey),
               named_struct('k', 'reg', 'v', n_regionkey)) AS kvs
  FROM nation
)
LATERAL VIEW inline(kvs) t AS k, v
ORDER BY n_name, k
"""

_INLINE_ORACLE = """
SELECT n_name, k, CAST(v AS BIGINT) AS v FROM (
  SELECT n_name, 'nat' AS k, n_nationkey AS v FROM nation
  UNION ALL
  SELECT n_name, 'reg' AS k, n_regionkey AS v FROM nation
) ORDER BY n_name, k
"""


def inline_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _INLINE_SPARK)


# ---------------------------------------------------------------------------
# Map function suite: map built from grouped entries, then keys/values/
# size/element_at/contains/aggregate-over-values.  The oracle replays the
# same facts relationally (DuckDB maps don't round-trip through pandas, so
# the egress is sorted joined strings + scalars).
# ---------------------------------------------------------------------------

_MAP_FUNCS_SPARK = """
WITH m AS (
  SELECT o_orderpriority,
         map_from_entries(array_sort(collect_list(struct(o_orderstatus, cnt)))) AS smap
  FROM (SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1, 2)
  GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       array_join(map_keys(smap), ',') AS keys,
       array_join(transform(map_values(smap), x -> CAST(x AS STRING)), ',') AS vals,
       CAST(size(smap) AS BIGINT) AS n_keys,
       element_at(smap, 'O') AS n_open,
       map_contains_key(smap, 'F') AS has_f,
       CAST(aggregate(map_values(smap), CAST(0 AS BIGINT), (a, x) -> a + x) AS BIGINT) AS total
FROM m ORDER BY o_orderpriority
"""

_MAP_FUNCS_ORACLE = """
WITH c AS (
  SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority,
       string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS keys,
       string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY o_orderstatus) AS vals,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       MAX(CASE WHEN o_orderstatus = 'O' THEN cnt END) AS n_open,
       bool_or(o_orderstatus = 'F') AS has_f,
       CAST(SUM(cnt) AS BIGINT) AS total
FROM c GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def map_functions_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _MAP_FUNCS_SPARK)


# ---------------------------------------------------------------------------
# Encoding / binary-representation suite: hex, base64 round-trip, base
# conversion, shifts, bitwise scalars.  DuckDB spells conv(x,10,16) as
# to_hex and conv(x,10,2) as to_binary; ^ is xor().
# ---------------------------------------------------------------------------

_ENCODING_SPARK = """
SELECT n_nationkey,
       hex(n_name) AS name_hex,
       lower(hex(n_nationkey)) AS key_hex,
       base64(CAST(n_name AS BINARY)) AS name_b64,
       CAST(unbase64(base64(CAST(n_name AS BINARY))) AS STRING) AS b64_rt,
       conv(CAST(n_nationkey AS STRING), 10, 16) AS key_conv16,
       conv(CAST(n_nationkey AS STRING), 10, 2) AS key_conv2,
       CAST(shiftleft(n_nationkey, 3) AS BIGINT) AS shl,
       CAST(shiftright(n_nationkey, 1) AS BIGINT) AS shr,
       CAST(n_nationkey & 5 AS BIGINT) AS band_5,
       CAST(n_nationkey | 8 AS BIGINT) AS bor_8,
       CAST(n_nationkey ^ 3 AS BIGINT) AS bxor_3
FROM nation ORDER BY n_nationkey
"""

_ENCODING_ORACLE = """
SELECT n_nationkey,
       hex(n_name) AS name_hex,
       lower(hex(n_nationkey)) AS key_hex,
       to_base64(CAST(n_name AS BLOB)) AS name_b64,
       CAST(from_base64(to_base64(CAST(n_name AS BLOB))) AS VARCHAR) AS b64_rt,
       to_hex(n_nationkey) AS key_conv16,
       to_binary(n_nationkey) AS key_conv2,
       CAST(n_nationkey << 3 AS BIGINT) AS shl,
       CAST(n_nationkey >> 1 AS BIGINT) AS shr,
       CAST(n_nationkey & 5 AS BIGINT) AS band_5,
       CAST(n_nationkey | 8 AS BIGINT) AS bor_8,
       CAST(xor(n_nationkey, 3) AS BIGINT) AS bxor_3
FROM nation ORDER BY n_nationkey
"""


def encoding_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _ENCODING_SPARK)


# ---------------------------------------------------------------------------
# Top-k per group: window rank + filter, the shape Catalyst optimizes with
# a rank-limit pushdown (WindowGroupLimit) instead of full-partition sorts.
# ---------------------------------------------------------------------------

_TOPK_PER_GROUP_SQL = """
SELECT n_name, c_custkey, c_acctbal, CAST(rk AS BIGINT) AS rk FROM (
  SELECT n_name, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
) WHERE rk <= 3 ORDER BY n_name, rk
"""


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _TOPK_PER_GROUP_SQL)


# ---------------------------------------------------------------------------
# Equal-width histogram: two-pass (global min/max, then bucket) in exact
# decimal arithmetic.  FLOOR is explicit on both sides: Spark's decimal→
# BIGINT cast truncates where DuckDB's rounds.
# ---------------------------------------------------------------------------

_HISTOGRAM_SQL = """
WITH b AS (
  SELECT CAST(MIN(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(14,2)) AS lo,
         CAST(MAX(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(14,2)) AS hi
  FROM orders
)
SELECT CAST(LEAST(CAST(FLOOR((CAST(o_totalprice AS DECIMAL(14,2)) - lo) * 10 / (hi - lo)) AS BIGINT), 9) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders, b
GROUP BY 1 ORDER BY bucket
"""


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _HISTOGRAM_SQL)


# ---------------------------------------------------------------------------
# first_value / last_value / nth_value / lag-with-default over explicit
# frames (the reference's Offset + Entire-partition frame families,
# WindowDirectExecBase.scala:182-233).  last_value needs the UNBOUNDED
# FOLLOWING frame — the default frame ends at CURRENT ROW in both engines.
# ---------------------------------------------------------------------------

_FIRST_LAST_NTH_SQL = """
SELECT o_orderkey,
       first_value(o_orderkey) OVER w AS first_k,
       last_value(o_orderkey) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_k,
       nth_value(o_orderkey, 3) OVER w AS third_k,
       first_value(o_orderkey) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS first_in_frame,
       CAST(lag(o_orderkey, 2, -1) OVER w AS BIGINT) AS lag2_default
FROM orders WHERE o_orderkey <= 1500
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
"""


def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_query(spark, sf_dir, _FIRST_LAST_NTH_SQL)


# ---------------------------------------------------------------------------
# pandas UDF over a window frame (reference: WindowDirectExecBase.scala:149
# passes arbitrary window functions — including Python-evaluated ones —
# through the reused physical operator; SURVEY §2.10's last row)
# ---------------------------------------------------------------------------


def window_pandas_udf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF evaluated over a bounded window frame
    (WindowInPandasExec).  Median over integral quantities keeps the
    float64 interpolation exact cross-engine (halves of small ints)."""
    from pyspark.sql import Window as W

    from direct_spark_sql_spark.functions.udf import _median_udaf

    li = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
    # l_quantity completes the ordering: rows still tied are identical in
    # every frame input, so the ROWS frame is deterministic cross-engine.
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(-2, 0)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        _median_udaf(F.col("l_quantity")).over(w).alias("median_qty"),
    ).orderBy("l_orderkey", "l_linenumber")


_WINDOW_PANDAS_MEDIAN_SQL = """
SELECT l_orderkey, l_linenumber, l_suppkey,
       CAST(median(l_quantity) OVER (
            PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber, l_quantity
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS median_qty
FROM lineitem
ORDER BY l_orderkey, l_linenumber
"""


# ---------------------------------------------------------------------------
# JAR-packaged JVM UDFs registered through the DDL surface (reference:
# CREATE FUNCTION ... AS 'class', DirectSessionCatalog.scala:72-91;
# DirectExecSuite.scala:159-178)
# ---------------------------------------------------------------------------


def udf_java_vowels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calls two JAR-packaged Java UDFs (compiled from
    functions/javasrc at first use, registered via registerJavaFunction
    with inferred return types) from SQL text over the part table."""
    from direct_spark_sql_spark.functions.jvm import register_builtin_java_udfs

    register_builtin_java_udfs(spark)
    return sql_query(
        spark,
        sf_dir,
        """
        SELECT p_partkey,
               CAST(java_vowels(p_name) AS BIGINT) AS n_vowels,
               java_repeat(p_brand, CAST(p_size % 3 AS INT)) AS brand_rep
        FROM part ORDER BY p_partkey
        """,
    )


_JAVA_UDF_ORACLE = """
SELECT p_partkey,
       CAST(length(lower(p_name))
            - length(regexp_replace(lower(p_name), '[aeiou]', '', 'g'))
            AS BIGINT) AS n_vowels,
       repeat(p_brand, CAST(p_size % 3 AS INT)) AS brand_rep
FROM part ORDER BY p_partkey
"""


def udtf_split_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Python UDTF invoked through SQL LATERAL: per input document
    the UDTF yields one (word, idx, n_chars) row.  Completes §2.10's UDTF
    row with the real table-function surface (the array-UDF + explode
    shape in functions/udf.py remains the fast-path analogue)."""
    from direct_spark_sql_spark.functions.udf import register_udtfs

    register_udtfs(spark)
    return sql_query(
        spark,
        sf_dir,
        """
        SELECT d.doc_id, s.word, s.idx, s.n_chars
        FROM documents d, LATERAL dss_split_words(d.text) s
        WHERE d.doc_id < 50
        ORDER BY d.doc_id, s.idx
        """,
    )


_UDTF_SPLIT_ORACLE = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
  FROM documents WHERE doc_id < 50
),
w AS (
  SELECT doc_id, unnest(toks) AS word, generate_subscripts(toks, 1) - 1 AS idx
  FROM t
)
SELECT doc_id, word, CAST(idx AS INT) AS idx, CAST(length(word) AS INT) AS n_chars
FROM w ORDER BY doc_id, idx
"""


QUERIES = [
    Query("udtf_split_words", udtf_split_words, _UDTF_SPLIT_ORACLE, ("udf", "generator"),
          doc="native Python UDTF (Spark 4) called via SQL LATERAL, "
              "row->table fan-out with declared schema"),
    Query("agg_percentile", agg_percentile, _PERCENTILE_SQL, ("agg",),
          doc="percentile_disc/percentile_cont/median ordered-set aggregates"),
    Query("agg_grouping_id", agg_grouping_id, _GROUPING_ID_SQL, ("agg",),
          doc="GROUPING/GROUPING_ID bitmasks over ROLLUP"),
    Query("agg_minby_maxby", agg_minby_maxby, _MINBY_MAXBY_ORACLE, ("agg",),
          doc="min_by/max_by with struct tiebreak vs DuckDB struct max"),
    Query("join_lateral", join_lateral, _LATERAL_SQL, ("join", "subquery"),
          doc="LATERAL correlated subquery"),
    Query("join_not_in_nulls", join_not_in_nulls, _NOT_IN_SQL, ("join", "subquery"),
          doc="null-aware NOT IN anti join (three-valued logic corner)"),
    Query("window_ntile_prank_cume", window_ntile_prank_cume, _NTILE_SQL, ("window",),
          doc="ntile/percent_rank/cume_dist ranking family"),
    Query("unpivot_stack", unpivot_stack, _UNPIVOT_ORACLE, ("generator",),
          doc="UNPIVOT via stack() generator"),
    Query("agg_approx_distinct_bounded", agg_approx_distinct_bounded, _APPROX_ORACLE,
          ("agg", "sketch"),
          doc="approx_count_distinct(rsd=0.01) within ±5% of exact (both engines agree on exact)"),
    Query("events_sliding_window", events_sliding_window, _SLIDING_ORACLE,
          ("window", "events"),
          doc="sliding 1h/30min batch time-windows (2 windows per event)"),
    Query("string_functions_ext", string_functions_ext, _STRING_EXT_ORACLE, ("functions",),
          doc="split_part/translate/initcap/pads/regexp_* suite"),
    Query("array_functions_ext", array_functions_ext, _ARRAY_EXT_ORACLE, ("functions",),
          doc="slice/reverse/position/remove/sequence/flatten/repeat/overlap suite"),
    Query("events_json_suite", events_json_suite, _JSON_SUITE_ORACLE, ("functions", "json"),
          doc="json_tuple (LATERAL VIEW), from_json, to_json round-trip"),
    Query("events_variant_extract", events_variant_extract, EVENTS_VARIANT_ORACLE,
          ("functions", "json", "variant"),
          doc="Spark 4 VariantType: parse_json once, typed variant_get "
              "paths + try_variant_get miss semantics"),
    Query("events_sliding_distinct", events_sliding_distinct,
          _SLIDING_DISTINCT_ORACLE, ("window", "events"),
          doc="sliding-window distinct cardinality (unique users per "
              "2h window, hourly slide)"),
    Query("unpivot_native", unpivot_native, _UNPIVOT_ORACLE, ("setop", "generator"),
          doc="native SQL UNPIVOT syntax (same semantics as the stack() "
              "spelling, same oracle)"),
    Query("array_hof_suite", array_hof_suite, _HOF_ORACLE, ("functions", "array"),
          doc="exists/forall/aggregate/filter/zip_with lambda surface, "
              "all JVM-side"),
    Query("string_collation_compare", string_collation_compare, COLLATION_ORACLE,
          ("functions", "collation"),
          doc="Spark 4 collations: UTF8_LCASE case-insensitive comparison "
              "declared on the type, IN-list + grouping semantics"),
    Query("agg_equidepth_histogram", agg_equidepth_histogram, _EQUIDEPTH_SPARK,
          ("agg", "window"),
          doc="equal-population NTILE(8) histogram (equi-depth complement "
              "to the equi-width agg_histogram), deterministic tie-break"),
    Query("join_hint_broadcast", join_hint_broadcast, JOIN_HINT_ORACLE,
          ("join", "hint"),
          doc="SQL BROADCAST hint honored with auto-broadcast off; plan "
              "pinned, result equals the unhinted join"),
    Query("set_union_by_name", set_union_by_name, UNION_BY_NAME_ORACLE,
          ("setop",),
          doc="unionByName(allowMissingColumns): column-order-independent "
              "union with NULL-fill for schema drift"),
    Query("set_intersect_all", set_intersect_all, _INTERSECT_ALL_SQL, ("setop",),
          doc="INTERSECT ALL multiplicity semantics"),
    Query("set_except_all", set_except_all, _EXCEPT_ALL_SQL, ("setop",),
          doc="EXCEPT ALL multiplicity semantics"),
    Query("explode_outer_empty", explode_outer_empty, _EXPLODE_OUTER_ORACLE,
          ("generator",),
          doc="LATERAL VIEW OUTER posexplode null row on empty arrays"),
    Query("agg_bitwise", agg_bitwise, _BITWISE_SQL, ("agg",),
          doc="bit_and/bit_or/bit_xor aggregates + count_if"),
    Query("math_functions", math_functions, _MATH_SQL, ("functions",),
          doc="cross-engine-safe math scalar suite"),
    Query("agg_filter_multi_distinct", agg_filter_multi_distinct, _FILTER_DISTINCT_SQL,
          ("agg",),
          doc="aggregate FILTER clause + two DISTINCT aggregates (Expand rewrite)"),
    Query("try_functions", try_functions, _TRY_ORACLE, ("functions",),
          doc="try_divide/try_cast/try_add/try_to_number NULL-on-error semantics"),
    Query("date_arithmetic", date_arithmetic, _DATE_ARITH_ORACLE, ("functions",),
          doc="date add/sub/diff/last_day/trunc-week/add_months + extractors"),
    Query("sort_nulls_ordering", sort_nulls_ordering, _NULLS_ORDER_SQL, ("sort",),
          doc="explicit NULLS FIRST/LAST in sort and window order specs"),
    Query("topk_per_group", topk_per_group, _TOPK_PER_GROUP_SQL, ("window", "sort"),
          doc="per-group top-3 via window rank filter (WindowGroupLimit shape)"),
    Query("agg_histogram", agg_histogram, _HISTOGRAM_SQL, ("agg",),
          doc="two-pass equal-width decimal histogram (explicit FLOOR both engines)"),
    Query("encoding_functions", encoding_functions, _ENCODING_ORACLE, ("functions",),
          doc="hex/base64 round-trip/conv base conversion/shifts/bitwise scalars"),
    Query("window_first_last_nth", window_first_last_nth, _FIRST_LAST_NTH_SQL,
          ("window",),
          doc="first/last/nth_value + lag-with-default over explicit frames"),
    Query("agg_pivot_builtin", agg_pivot_builtin, _PIVOT_BUILTIN_ORACLE, ("agg",),
          doc="df.groupBy().pivot().agg() with explicit value list"),
    Query("inline_generator", inline_generator, _INLINE_ORACLE, ("generator",),
          doc="inline() over array<struct> → rows"),
    Query("map_functions_ext", map_functions_ext, _MAP_FUNCS_ORACLE, ("functions",),
          doc="map keys/values/size/element_at/contains/aggregate suite"),
    Query("window_pandas_udf_median", window_pandas_udf_median,
          _WINDOW_PANDAS_MEDIAN_SQL, ("window", "udf"),
          doc="grouped-agg pandas UDF over a bounded window frame "
              "(WindowInPandasExec)"),
    Query("udf_java_vowels", udf_java_vowels, _JAVA_UDF_ORACLE, ("udf",),
          doc="JAR-packaged Java UDF1/UDF2 registered by class name, "
              "called from SQL (Hive-UDF DDL parity)"),
    Query("agg_winsorized_stats", agg_winsorized_stats, _WINSORIZE_SQL,
          ("agg", "robust"),
          doc="P10/P90 winsorized clip + exact-decimal clipped mean per "
              "group (outlier-robust aggregation)"),
    Query("recursive_cte_tree_depth", recursive_cte_tree_depth,
          _RECURSIVE_DEPTH_ORACLE, ("cte", "recursion"), bench=True,
          doc="WITH RECURSIVE data-driven ancestor walk (UnionLoopExec), "
              "depth histogram with id checksum"),
]


# ---------------------------------------------------------------------------
# Round-4 SQL-surface additions: listagg (SQL:2023 ordered string agg, new
# in Spark 4), the linear-regression aggregate family, and the
# median/count_if/bool_and/bool_or group.  All implicit reference surface
# (full FunctionRegistry through the reused analyzer).
# ---------------------------------------------------------------------------

def agg_listagg_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listagg(...) WITHIN GROUP (ORDER BY ...): ordered, delimited string
    aggregation per market segment over a bounded slice (result strings
    stay comparable).  DuckDB twin: string_agg(expr, sep ORDER BY ...)."""
    return sql_query(
        spark,
        sf_dir,
        """
        SELECT c_mktsegment,
               listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name) AS names,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer WHERE c_custkey <= 100
        GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
    )


LISTAGG_ORACLE = """
SELECT c_mktsegment,
       string_agg(c_name, ',' ORDER BY c_name) AS names,
       CAST(COUNT(*) AS BIGINT) AS n
FROM customer WHERE c_custkey <= 100
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def agg_regression_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (regr_slope/intercept/r2 semantics)
    of extended price on quantity per return flag, from the shared
    exact-decimal moments (conformance._corr_moment_cols — round-12
    FMA/2^53 hardening; built-in regr_* accumulate in floating point
    with engine-specific ordering and cannot hash-match).

    Unit bookkeeping: num_s/dxx is the slope in 1e-4-price units, so
    slope multiplies back by the exactly-representable 1e4 (one IEEE
    multiply); r² is dimensionless (rescale cancels).  The intercept's
    ``sy − slope·sx`` remains a double a−b·c — the one residual
    FMA-contraction surface in the suite (an exact-decimal form needs
    sy·dxx ≈ 1e22, past every cast window); if the sf0.1 rotation ever
    flags intercept alone, that contraction is the cause and the fix is
    a coarser documented output grain, not a wider decimal."""
    from direct_spark_sql_spark.plans.conformance import _corr_moment_cols

    l = load_table(spark, sf_dir, "lineitem")
    n, n_out, num_s, dxx, dyy0, sxd, sy_sd = _corr_moment_cols()
    slope = num_s / dxx * F.lit(10000.0)
    intercept = (sy_sd * F.lit(10000.0) - slope * sxd) / n
    r2 = (num_s * num_s) / (dxx * dyy0)
    return (
        l.groupBy("l_returnflag")
        .agg(
            n_out.alias("n"),
            slope.alias("slope"),
            intercept.alias("intercept"),
            r2.alias("r2"),
        )
        .orderBy("l_returnflag")
    )


def _regression_oracle() -> str:
    from direct_spark_sql_spark.plans.conformance import _CORR_MOMENT_CTE

    return _CORR_MOMENT_CTE + """
SELECT l_returnflag, n_out AS n,
       num_s / dxx * 10000.0 AS slope,
       (sy_sd * 10000.0 - (num_s / dxx * 10000.0) * sxd) / n AS intercept,
       (num_s * num_s) / (dxx * dyy0) AS r2
FROM m2 ORDER BY l_returnflag
"""


REGRESSION_ORACLE = _regression_oracle()


def agg_median_countif_boolagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """median / count_if / bool_and / bool_or per event type.  Exact
    cross-engine: median of doubles averages the two middle values the
    same way in both engines; the boolean aggregates are set-logic."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.median("value").alias("med"),
            F.count_if(F.col("value") > 50).cast("long").alias("n_big"),
            F.bool_and(F.col("value").isNotNull()).alias("all_nonnull"),
            F.bool_or(F.col("value") > 99).alias("any_hot"),
        )
        .orderBy("event_type")
    )


MEDIAN_BOOLAGG_ORACLE = """
SELECT event_type,
       median(value) AS med,
       CAST(COUNT(*) FILTER (WHERE value > 50) AS BIGINT) AS n_big,
       bool_and(value IS NOT NULL) AS all_nonnull,
       bool_or(value > 99) AS any_hot
FROM events GROUP BY event_type ORDER BY event_type
"""


QUERIES += [
    Query("agg_listagg_strings", agg_listagg_strings, LISTAGG_ORACLE, ("agg",),
          doc="SQL:2023 listagg WITHIN GROUP ordered string aggregation "
              "(Spark 4) vs DuckDB string_agg"),
    Query("agg_regression_suite", agg_regression_suite, REGRESSION_ORACLE, ("agg",),
          doc="regr_slope/intercept/r2 semantics from exact decimal "
              "moment sums (bit-exact both engines)"),
    Query("agg_median_countif_boolagg", agg_median_countif_boolagg,
          MEDIAN_BOOLAGG_ORACLE, ("agg",),
          doc="median / count_if / bool_and / bool_or aggregate group"),
]


# ---------------------------------------------------------------------------
# Mergeable-sketch distinct counting — the 100 TB distinct-count toolkit:
# datasketches HLL (Spark 4 hll_sketch_agg / hll_union_agg: mergeable
# across partitions AND across groups) and the exact two-level bitmap
# pattern (bitmap_bucket_number / bitmap_bit_position / bitmap_count).
# ---------------------------------------------------------------------------

# Round 13: the three identical scalar subqueries of the 'ALL' branch
# (one global COUNT DISTINCT each) are hoisted into the single ``tot``
# CTE — same value, same comparison arithmetic, one distinct-scan
# instead of three.
_HLL_SPARK = """
WITH sk AS (
  SELECT o_orderpriority,
         hll_sketch_agg(o_custkey) AS sk,
         COUNT(DISTINCT o_custkey) AS exact_cnt
  FROM orders GROUP BY o_orderpriority
),
tot AS (
  SELECT COUNT(DISTINCT o_custkey) AS n FROM orders
)
SELECT o_orderpriority,
       CAST(exact_cnt AS BIGINT) AS exact_cnt,
       abs(hll_sketch_estimate(sk) - exact_cnt)
         <= 0.05 * exact_cnt AS hll_ok
FROM sk
UNION ALL
SELECT 'ALL' AS o_orderpriority,
       CAST(MAX(n) AS BIGINT),
       abs(hll_sketch_estimate(hll_union_agg(sk)) - MAX(n))
         <= 0.05 * MAX(n)
FROM sk CROSS JOIN tot
ORDER BY o_orderpriority
"""

_HLL_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_cnt,
       TRUE AS hll_ok
FROM orders GROUP BY o_orderpriority
UNION ALL
SELECT 'ALL', CAST(COUNT(DISTINCT o_custkey) AS BIGINT), TRUE FROM orders
ORDER BY o_orderpriority
"""


def sketch_hll_union_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches HLL per group plus a cross-group hll_union_agg rollup
    ('ALL' row) — the re-aggregatable distinct-count shape (build leaf
    sketches once, merge upward without re-reading data).  The sketch is
    seedless/deterministic; like agg_approx_distinct_bounded, both
    engines agree on the exact count and Spark additionally asserts its
    estimate lands within ±5%."""
    return sql_query(spark, sf_dir, _HLL_SPARK)


_BITMAP_SPARK = """
SELECT o_orderpriority, CAST(SUM(cnt) AS BIGINT) AS n_distinct
FROM (
  SELECT o_orderpriority,
         bitmap_count(bitmap_construct_agg(bitmap_bit_position(o_custkey))) AS cnt
  FROM orders
  GROUP BY o_orderpriority, bitmap_bucket_number(o_custkey)
)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

_BITMAP_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def sketch_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via two-level roaring-style bitmaps
    (bucket → bit position → popcount → sum): unlike HLL this is exact,
    and unlike COUNT(DISTINCT) the per-bucket bitmaps are mergeable
    partial aggregates — no distinct-expand shuffle of raw values.  The
    oracle is plain COUNT(DISTINCT), so any bucket/position bug breaks
    the match."""
    return sql_query(spark, sf_dir, _BITMAP_SPARK)


QUERIES += [
    Query("sketch_hll_union_estimate", sketch_hll_union_estimate, _HLL_ORACLE,
          ("agg", "sketch"), bench=True,
          doc="datasketches HLL per group + hll_union_agg cross-group "
              "rollup, estimate within ±5% of exact"),
    Query("sketch_bitmap_distinct", sketch_bitmap_distinct, _BITMAP_ORACLE,
          ("agg", "sketch"),
          doc="exact mergeable distinct via two-level bitmap "
              "(bucket/bit-position/popcount) vs COUNT(DISTINCT)"),
]
