"""Query registry primitives.

Every capability of the engine is exposed as a named :class:`Query`:
a Spark DataFrame builder plus (where SQL-expressible) the equivalent
ANSI SQL that DuckDB runs as the correctness oracle — the rebuild's
analogue of the reference's differential testing against vanilla Spark
(reference: TestBase.scala:28-36, DirectExecSuite.scala).

Conventions that make the differential hash-compare exact:

- Every computed column is aliased identically on both sides.
- Double aggregations route through DECIMAL casts sized to the data
  (prices have 2 decimals, rates 2) so sums are exact decimal arithmetic —
  order-independent and bit-identical across engines — then CAST back to
  DOUBLE for a stable output schema.
- Integer sums / ranks are cast to BIGINT on both sides (DuckDB widens
  SUM(INTEGER) to HUGEINT; Spark keeps LONG).
- Averages are computed as exact-decimal SUM divided by COUNT in DOUBLE:
  one IEEE division of identical operands is deterministic.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from direct_spark_sql_spark.sources.registry import register_star_schema

SparkFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    """A named engine capability with its differential oracle."""

    name: str
    spark_fn: SparkFn
    #: ANSI SQL equivalent DuckDB can run over the same parquet views;
    #: None for genuinely non-SQL-expressible ops (driver then records a
    #: weaker rows-only check).
    oracle: str | None
    #: Free-form labels: "tpch", "join", "window", "dedup", ...
    tags: tuple[str, ...] = ()
    #: Included in bench.py's headline set.
    bench: bool = False
    doc: str = ""


def sql_query(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Run a Spark-SQL query text against the registered star schema."""
    register_star_schema(spark, sf_dir)
    return spark.sql(sql)


#: guards creation of per-conf-set session clones (see derive_with_confs)
_CLONE_REGISTRY_LOCK = threading.Lock()


def derive_with_confs(
    spark: SparkSession,
    confs: dict[str, str],
    build: "Callable[[SparkSession], DataFrame]",
) -> DataFrame:
    """Derive a query's physical plan under per-query SQL confs WITHOUT
    touching the shared session's conf state.

    ``build`` runs against a CLONED session (``spark.newSession()``:
    isolated SQLConf + catalog over the shared SparkContext) with
    ``confs`` applied there; the plan is forced eagerly so the returned
    DataFrame keeps it for later actions.  Unlike the set/restore-on-the-
    shared-session pattern, a concurrent query deriving its plan on the
    original session can never observe these confs mid-flight — the
    concurrency-soak flake the set/restore approach allowed.

    Clones are cached per (session, conf-set) on the parent session
    object: SessionState construction is not free, and these queries run
    hundreds of times across the differential sweeps and bench loops.
    Because ``build`` may (re)bind temp views on the shared clone, each
    clone carries its own lock held across build + plan pin — two
    concurrent derivations with the same conf-set (possibly different
    datasets) serialize instead of analyzing against each other's
    mid-rebind catalog state.
    """
    key = tuple(sorted(confs.items()))
    with _CLONE_REGISTRY_LOCK:
        cache = getattr(spark, "_dss_conf_clones", None)
        if cache is None:
            cache = {}
            spark._dss_conf_clones = cache
        entry = cache.get(key)
        if entry is None:
            ns = spark.newSession()
            for k, v in confs.items():
                ns.conf.set(k, v)
            entry = (ns, threading.Lock())
            cache[key] = entry
    ns, ns_lock = entry
    with ns_lock:
        df = build(ns)
        df._jdf.queryExecution().executedPlan()  # pin plan under these confs
    return df


# ---------------------------------------------------------------------------
# Exact-arithmetic column helpers (Spark side).  The DuckDB oracle uses the
# textual twins below.
# ---------------------------------------------------------------------------

#: DECIMAL shapes sized to the generated data (FIXTURES.md Part B): prices
#: < 1e8 with 2 decimals, rates < 1 with 2 decimals, quantities integral.
DEC_PRICE = "decimal(14,2)"
DEC_RATE = "decimal(7,4)"
DEC_QTY = "decimal(12,2)"


#: revenue term: extendedprice * (1 - discount), exact decimal both engines.
#: The (1 ± rate) factor is pinned to DECIMAL(8,4): Spark types a bare
#: integer literal as DECIMAL(10,0), which would widen the product chain
#: past precision 38 and trigger silent rounding (allowPrecisionLoss) —
#: observed as a sum_charge mismatch at sf0.01.  Pinned: (14,2) * (8,4) ->
#: (23,6); charge (23,6) * (8,4) -> (32,10); SUM stays <= 38 digits, exact.
REVENUE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(14,2))"
    " * CAST(1 - CAST(l_discount AS DECIMAL(7,4)) AS DECIMAL(8,4))"
)

CHARGE_SQL = f"({REVENUE_SQL}) * CAST(1 + CAST(l_tax AS DECIMAL(7,4)) AS DECIMAL(8,4))"


# -- exact double egress ------------------------------------------------------
#
# Two cross-engine hazards force every decimal aggregate through a
# ROUND + DECIMAL(24,s) funnel before the final DOUBLE cast:
#
# 1. Decimal→double conversion is only bit-identical while the decimal fits
#    in 15 significant digits (≤ 2^53 unscaled): past that, DuckDB
#    double-rounds (int128 → double, then /10^scale) and can differ from
#    Java's correctly-rounded conversion by 1 ULP (seen on Q1 sum_charge).
# 2. Decimal *downscale* casts round HALF_UP (away from zero) in Spark but
#    TRUNCATE in DuckDB (seen on embedding norms: 0.999999936 → 1.000000 vs
#    0.999999).  Both engines' ROUND(decimal, n) agree (half away from
#    zero), so the oracle SQL wraps the expression in ROUND(x, s) before
#    its cast; Spark's cast already behaves as ROUND and needs no wrapper.
#
# The MONEY funnel's scale is 2 (cents), not 6 (round 12): hazard (1) is
# a function of the SUM's unscaled magnitude, and at scale 6 a corpus-
# scale revenue rollup crosses 2^53 around group sums of $9e9 — the
# sf1-equivalent probe caught exactly that on Q1's sum_charge.  At cents
# the bit-identical window is group sums < $9e13 (≈100× the sf0.1 probe
# data per group); sub-cent product tails (price·(1−disc)·(1+tax)) are
# quantized identically on both engines by the shared ROUND rule.
# Bounded-magnitude families keep scale-6 funnels where the precision is
# load-bearing: embedding dots/norms (unit vectors — operators/
# similarity.py pins its own DEC_OUT) and per-dimension stats.

DEC_OUT = "decimal(24,2)"


def sum_money(col) -> "F.Column":  # Spark side
    from pyspark.sql import functions as F

    return F.sum(col).cast(DEC_OUT).cast("double")


def sum_money_sql(expr: str) -> str:  # DuckDB oracle side
    return f"CAST(CAST(ROUND(SUM({expr}), 2) AS DECIMAL(24,2)) AS DOUBLE)"
