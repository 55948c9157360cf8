"""The benchmark's workloads: one closed-loop client each.

- ``facade_hot``: a long-lived service repeating a fixed working set of
  statements through ``Engine.sql_directly``; the session caches and plan
  replay do the work.
- ``facade_refresh``: re-register a view with a fresh batch, then cold
  aggregates over it and one large result through ``to_list_of_dicts``;
  ingress, invalidation, Catalyst, execution and egress do the work.
- ``batch_headline``: registry queries built fresh with ``Query.spark_fn``
  and materialized with ``toPandas``, without the facade.

Each workload generates its inputs from the seed, checks every measured
operation against DuckDB, and records one ``Op`` per measured operation.
"""

from __future__ import annotations

import statistics
import time
import weakref
from dataclasses import dataclass, field
from typing import Any

import duckdb
import numpy as np
import pandas as pd

import datagen
from instrument import CATALYST_PHASES, EXEC_KEYS, SparkProbe, Tracer


@dataclass
class Op:
    kind: str
    ms: float
    ok: bool
    rows: int = 0
    #: time inside ``Engine.sql_directly``, for ops that call it
    call_ms: float | None = None
    #: filled only by traced runs
    layers: dict[str, Any] = field(default_factory=dict)


def canon(rows) -> list[tuple]:
    """Order-insensitive, exact form of a result: sorted value tuples."""
    return sorted(tuple(r) for r in rows)


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


class Workload:
    """Base: the closed loop around one Engine, with optional tracing."""

    name = ""

    def __init__(self, seed: int, data_dir: str, trace: Tracer | None = None):
        self.seed = seed
        self.data_dir = data_dir
        self.trace = trace
        self.probe: SparkProbe | None = None
        self.ops: list[Op] = []
        self._next_call = 0
        self._analyzed: weakref.WeakSet = weakref.WeakSet()
        #: per fresh analysis: Catalyst phase times (traced runs only)
        self.analyses: list[dict[str, int]] = []

    # -- lifecycle (overridden) -----------------------------------------------

    def setup(self, engine) -> None:
        """Generate inputs, register them and warm up (timed as setup)."""
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        """Compute expected results once, outside every timed region."""
        raise NotImplementedError

    def step(self, engine) -> None:
        """One unit of the closed loop; appends Ops."""
        raise NotImplementedError

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end metrics: name -> (value, unit)."""
        raise NotImplementedError

    # -- shared machinery -------------------------------------------------------

    def close(self) -> None:
        """Release what ``prepare_oracle`` opened."""

    def reset(self) -> None:
        """Forget the measured ops, to measure a second window."""
        self.ops = []

    def call_samples(self) -> list[float]:
        """What ``call_p50_ms`` and ``calls_per_s`` are computed over: the
        time of each ``Engine.sql_directly`` call."""
        return [op.call_ms for op in self.ops if op.call_ms is not None]

    def attach(self, engine) -> None:
        self.probe = SparkProbe(engine.spark) if self.trace else None

    def _timed(self, kind: str, fn, *args):
        """Run one measured call; returns (result, Op).  In traced runs the
        call's jobs carry a tag and the call gets a root span."""
        if self.trace is None:
            t0 = time.perf_counter()
            result = fn(*args)
            ms = 1000.0 * (time.perf_counter() - t0)
            op = Op(kind, ms, True)
        else:
            tag = self._new_call()
            t0 = time.perf_counter()
            with self.probe.tagged(tag), self.trace.span(f"call.{kind}"):
                result = fn(*args)
            ms = 1000.0 * (time.perf_counter() - t0)
            op = Op(kind, ms, True)
            op.layers["exec"] = self.probe.exec_stats(tag)
        self.ops.append(op)
        return result, op

    def _new_call(self) -> str:
        """Start a traced call: its spans share a call id, its jobs a tag."""
        self.trace.call_id = self._next_call
        self._next_call += 1
        return f"perfbench-{self.trace.call_id}"

    def _note_analysis(self, df) -> None:
        """Record Catalyst phases the first time a DataFrame is seen."""
        if self.trace is None or df is None or df in self._analyzed:
            return
        self._analyzed.add(df)
        self.analyses.append(SparkProbe.catalyst_ms(df))

    def generic_metrics(self) -> dict[str, tuple[float, str]]:
        ms = self.call_samples()
        busy_s = sum(ms) / 1000.0
        return {
            "call_p50_ms": (p50(ms), "ms"),
            "calls_per_s": (len(ms) / busy_s if busy_s else 0.0, "1/s"),
        }

    def tail(self) -> dict[str, Any]:
        """Highest percentile with at least ten samples beyond it."""
        ms = sorted(self.call_samples())
        n = len(ms)
        k = n - 11  # index with exactly 10 samples above it
        if k < n // 2:  # too few samples for a tail above the median
            return {"call_tail_ms": None, "percentile": None, "samples": n}
        return {
            "call_tail_ms": ms[k],
            "percentile": round(100.0 * (k + 1) / n, 2),
            "samples": n,
        }


# -- facade_hot -------------------------------------------------------------------

#: Statements over in-memory views registered from list-of-dicts rows:
#: deterministic and file-free, so they take the result-cache hit path.
MEMORY_STATEMENTS = (
    "SELECT store_id, count(*) AS n, sum(qty) AS q FROM sales GROUP BY store_id",
    "SELECT product, sum(qty * price_cents) AS revenue FROM sales GROUP BY product",
    "SELECT s.region, count(*) AS n, sum(f.price_cents) AS cents "
    "FROM sales f JOIN stores s ON f.store_id = s.store_id GROUP BY s.region",
    "SELECT month(day) AS m, count(*) AS n FROM sales GROUP BY month(day)",
    "SELECT count(DISTINCT product) AS products, min(day) AS first_day, "
    "max(day) AS last_day FROM sales",
    "SELECT sale_id, price_cents FROM sales ORDER BY price_cents DESC, sale_id LIMIT 20",
)

#: Statements over parquet views registered as DataFrames: plan-cached but
#: never result-cached (they read files), so every call replays the plan.
PARQUET_STATEMENTS = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "CAST(sum(l_quantity) AS BIGINT) AS qty FROM lineitem "
    "GROUP BY l_returnflag, l_linestatus",
    "SELECT o_orderpriority, count(*) AS n FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' GROUP BY o_orderpriority",
    "SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment",
    "SELECT n_name, count(*) AS n FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name",
    "SELECT year(o_orderdate) AS y, count(*) AS n FROM orders GROUP BY year(o_orderdate)",
    "SELECT o_orderstatus, count(*) AS n FROM orders "
    "JOIN lineitem ON o_orderkey = l_orderkey WHERE l_quantity > 45 "
    "GROUP BY o_orderstatus",
)

PARQUET_VIEWS = ("lineitem", "orders", "customer", "nation")


def zipf_weights(n: int, s: float = 1.0) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def hot_sequence(seed: int):
    """The seeded statement sequence, endless: blocks of four calls, three
    drawn from the in-memory statements and one from the parquet
    statements, each by Zipf rank, in seeded order within the block.
    Fixing the mix per block keeps the hit/replay share the same for
    every seed."""
    rng = np.random.default_rng(seed)
    mem_w = zipf_weights(len(MEMORY_STATEMENTS))
    pq_w = zipf_weights(len(PARQUET_STATEMENTS))
    while True:
        block = [("memory", MEMORY_STATEMENTS[i]) for i in rng.choice(len(mem_w), 3, p=mem_w)]
        block.append(("parquet", PARQUET_STATEMENTS[rng.choice(len(pq_w), p=pq_w)]))
        for i in rng.permutation(4):
            yield block[i]


class FacadeHot(Workload):
    name = "facade_hot"
    SALES_ROWS = 5_000

    def setup(self, engine) -> None:
        rng = np.random.default_rng(self.seed)
        self.sales = datagen.sales_rows(rng, self.SALES_ROWS)
        engine.register_table("sales", self.sales, datagen.SALES_SCHEMA)
        engine.register_table("stores", datagen.store_rows(), datagen.STORES_SCHEMA)
        for view in PARQUET_VIEWS:
            df = engine.spark.read.parquet(f"{self.data_dir}/{view}.parquet")
            engine.register_table(view, df)
        for sql in MEMORY_STATEMENTS + PARQUET_STATEMENTS:
            engine.sql_directly(sql)
        self._sequence = hot_sequence(self.seed)

    def prepare_oracle(self) -> None:
        con = duckdb.connect()
        try:
            sales = pd.DataFrame(self.sales)  # noqa: F841 (read by DuckDB)
            stores = pd.DataFrame(datagen.store_rows())  # noqa: F841
            con.execute(
                "CREATE TABLE sales AS SELECT sale_id::BIGINT AS sale_id, "
                "store_id::INT AS store_id, product, qty::INT AS qty, "
                "price_cents::BIGINT AS price_cents, CAST(day AS DATE) AS day "
                "FROM sales"
            )
            con.execute("CREATE TABLE stores AS SELECT * FROM stores")
            for view in PARQUET_VIEWS:
                con.execute(
                    f"CREATE VIEW {view} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{view}.parquet')"
                )
            self.expected = {
                sql: canon(con.execute(sql).fetchall())
                for sql in MEMORY_STATEMENTS + PARQUET_STATEMENTS
            }
        finally:
            con.close()

    def step(self, engine) -> None:
        kind, sql = next(self._sequence)
        table, op = self._timed("sql_directly", engine.sql_directly, sql)
        op.rows = len(table)
        op.call_ms = op.ms
        op.ok = canon(table.data) == self.expected[sql]
        hit = engine.metrics_history(1)[-1]["result_cache_hit"]
        op.kind = "hit" if hit else ("replay" if kind == "parquet" else "miss")
        if self.trace is not None:
            self._note_analysis(self.trace.last_result.get("session.dataframe"))

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        return {
            "hit_p50_ms": (p50([o.ms for o in self.ops if o.kind == "hit"]), "ms"),
            "replay_p50_ms": (
                p50([o.ms for o in self.ops if o.kind == "replay"]), "ms"
            ),
        }


# -- facade_refresh --------------------------------------------------------------

REFRESH_AGGREGATES = (
    "SELECT kind, count(*) AS n, sum(amount_cents) AS cents FROM fresh GROUP BY kind",
    "SELECT a.tier, count(*) AS n, sum(f.amount_cents) AS cents FROM fresh f "
    "JOIN accounts a ON f.account = a.account WHERE NOT f.flagged GROUP BY a.tier",
    "SELECT hour(ts) AS h, count(DISTINCT account) AS accounts FROM fresh "
    "GROUP BY hour(ts)",
)
REFRESH_LARGE = (
    "SELECT event_id, account, kind, amount_cents FROM fresh WHERE amount_cents >= 0"
)


class FacadeRefresh(Workload):
    name = "facade_refresh"
    BATCH_ROWS = 20_000

    def setup(self, engine) -> None:
        self.rng = np.random.default_rng(self.seed)
        self._first_id = 0
        self._calls = None
        engine.register_table(
            "accounts", datagen.account_rows(), datagen.ACCOUNTS_SCHEMA
        )
        batch = self._next_batch()
        engine.register_table("fresh", batch, datagen.REFRESH_SCHEMA)
        for sql in REFRESH_AGGREGATES + (REFRESH_LARGE,):
            engine.sql_directly(sql).to_list_of_dicts()

    def _next_batch(self) -> list[dict]:
        batch = datagen.refresh_rows(self.rng, self.BATCH_ROWS, self._first_id)
        self._first_id += self.BATCH_ROWS
        return batch

    def prepare_oracle(self) -> None:
        self.con = duckdb.connect()
        accounts = pd.DataFrame(datagen.account_rows())  # noqa: F841
        self.con.execute(
            "CREATE TABLE accounts AS SELECT account::INT AS account, tier "
            "FROM accounts"
        )

    def _expected(self, batch: list[dict]) -> dict[str, list[tuple]]:
        fresh = pd.DataFrame(batch)  # noqa: F841 (read by DuckDB)
        self.con.execute("DROP TABLE IF EXISTS fresh")
        self.con.execute(
            "CREATE TABLE fresh AS SELECT event_id::BIGINT AS event_id, "
            "account::INT AS account, kind, amount_cents::BIGINT AS amount_cents, "
            "flagged, ts FROM fresh"
        )
        return {
            sql: canon(self.con.execute(sql).fetchall())
            for sql in REFRESH_AGGREGATES + (REFRESH_LARGE,)
        }

    def step(self, engine) -> None:
        """One measured operation of the cycle refresh, cold aggregates,
        large result: a window ends within one operation of its deadline."""
        if self._calls is None:
            self._calls = self._cycle(engine)
        try:
            next(self._calls)
        except Exception:
            self._calls = None  # restart the cycle with a fresh batch
            raise

    def _cycle(self, engine):
        """Endless: re-register ``fresh``, read it cold, fetch it large;
        yields after each measured operation."""
        while True:
            batch = self._next_batch()
            expected = self._expected(batch)
            _, op = self._timed(
                "refresh", engine.register_table, "fresh", batch, datagen.REFRESH_SCHEMA
            )
            op.rows = len(batch)
            yield
            for sql in REFRESH_AGGREGATES:
                table, op = self._timed("cold", engine.sql_directly, sql)
                op.rows = len(table)
                op.call_ms = op.ms
                op.ok = canon(table.data) == expected[sql]
                self._after_call(op)
                yield
            (dicts, call_ms), op = self._timed("large", self._large, engine)
            op.call_ms = call_ms
            op.rows = len(dicts)
            op.ok = canon(d.values() for d in dicts) == expected[REFRESH_LARGE]
            self._after_call(op)
            yield

    def _large(self, engine) -> tuple[list[dict], float]:
        """The large result through ``to_list_of_dicts``, and the time of
        its ``sql_directly`` call alone."""
        t0 = time.perf_counter()
        table = engine.sql_directly(REFRESH_LARGE)
        call_ms = 1000.0 * (time.perf_counter() - t0)
        if self.trace is None:
            return table.to_list_of_dicts(), call_ms
        with self.trace.span("egress.to_dicts") as rec:
            dicts = table.to_list_of_dicts()
            rec["rows"] = len(dicts)
        return dicts, call_ms

    def _after_call(self, op: Op) -> None:
        if self.trace is not None:
            df = self.trace.last_result.get("session.dataframe")
            self._note_analysis(df)
            op.layers["python_eval_nodes"] = SparkProbe.python_eval_nodes(df)

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        large = [o for o in self.ops if o.kind == "large"]
        large_s = sum(o.ms for o in large) / 1000.0
        return {
            "cold_p50_ms": (p50([o.ms for o in self.ops if o.kind == "cold"]), "ms"),
            "refresh_p50_ms": (
                p50([o.ms for o in self.ops if o.kind == "refresh"]), "ms"
            ),
            "egress_rows_per_s": (
                sum(o.rows for o in large) / large_s if large_s else 0.0, "rows/s"
            ),
        }

    def close(self) -> None:
        self.con.close()


# -- batch_headline ---------------------------------------------------------------

#: The registry queries measured per run.  The 47 ``bench=True`` queries
#: take about 30 s per warm pass on four cores; these five keep a run inside
#: its time budget while covering what only this workload exercises:
#: parquet scans, aggregation and shuffle joins (tpch), and Python plan
#: build with coordinator collects, ``localCheckpoint``, a Python UDF and
#: recursion (pipeline).
BATCH_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "multimodal_jpeg_roundtrip",
    "recursive_cte_tree_depth",
)


class BatchHeadline(Workload):
    name = "batch_headline"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        from direct_spark_sql_spark.plans.registry import QUERIES

        self.queries = [QUERIES[n] for n in BATCH_QUERIES]
        self._order_rng = np.random.default_rng(self.seed)
        #: time of each whole pass
        self.pass_ms: list[float] = []

    def next_order(self) -> list:
        """The queries in the next pass's seeded order.  Each pass draws a
        new order, so no one order's effect on timing decides a run."""
        return [self.queries[i] for i in self._order_rng.permutation(len(self.queries))]

    def setup(self, engine) -> None:
        for q in self.queries:  # warm-up
            q.spark_fn(engine.spark, self.data_dir).toPandas()

    def prepare_oracle(self) -> None:
        from direct_spark_sql_spark.sources.registry import TABLES
        from tests.conftest import normalize

        self.normalize = normalize
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{t}.parquet')"
                )
            self.expected = {
                q.name: normalize(con.execute(q.oracle).df()) for q in self.queries
            }
        finally:
            con.close()

    def _matches(self, name: str, got: pd.DataFrame) -> bool:
        got = self.normalize(got)
        want = self.expected[name]
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            return False
        try:
            pd.testing.assert_frame_equal(
                got, want, check_dtype=False, check_exact=True, check_like=True
            )
        except AssertionError:
            return False
        return True

    def reset(self) -> None:
        super().reset()
        self.pass_ms = []

    def call_samples(self) -> list[float]:
        """Whole passes: every query counts toward ``call_p50_ms`` (the
        median pass) and ``calls_per_s`` (passes per second)."""
        return self.pass_ms

    def step(self, engine) -> None:
        """One pass over the queries, recorded as one sample once every
        query in it has run."""
        ops = []
        for q in self.next_order():
            if self.trace is None:
                t0 = time.perf_counter()
                pdf = q.spark_fn(engine.spark, self.data_dir).toPandas()
                op = Op(q.name, 1000.0 * (time.perf_counter() - t0), True)
            else:
                op, pdf = self._traced_query(engine.spark, q)
            op.rows = len(pdf)
            op.ok = self._matches(q.name, pdf)
            self.ops.append(op)
            ops.append(op)
        self.pass_ms.append(sum(op.ms for op in ops))

    def _traced_query(self, spark, q) -> tuple[Op, pd.DataFrame]:
        """spark_fn and toPandas under separate job tags, so coordinator
        collects during the build count apart from the execution."""
        exec_tag = self._new_call()
        build_tag = exec_tag + "-build"
        held_before = self.probe.storage_bytes()
        t0 = time.perf_counter()
        with self.trace.span(f"call.{q.name}"):
            with self.probe.tagged(build_tag), self.trace.span("plans.build"):
                df = q.spark_fn(spark, self.data_dir)
            with self.probe.tagged(exec_tag), self.trace.span("egress.topandas") as rec:
                pdf = df.toPandas()
                rec["rows"] = len(pdf)
        op = Op(q.name, 1000.0 * (time.perf_counter() - t0), True)
        op.layers = {
            "exec": self.probe.exec_stats(exec_tag),
            "build_jobs": self.probe.exec_stats(build_tag)["jobs"],
            "python_eval_nodes": SparkProbe.python_eval_nodes(df),
            # blocks that other queries' checkpoints release during this one
            # can make the raw delta negative; count only what was added
            "checkpoint_bytes": max(0, self.probe.storage_bytes() - held_before),
        }
        self._note_analysis(df)
        return op, pdf

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        tpch = {q.name for q in self.queries if "tpch" in q.tags}
        med = {n: m["median_ms"] / 1000.0 for n, m in self.per_query().items()}
        return {
            "sql_s": (sum(v for n, v in med.items() if n in tpch), "s"),
            "pipeline_s": (sum(v for n, v in med.items() if n not in tpch), "s"),
        }

    def per_query(self) -> dict[str, dict[str, float]]:
        """Median time of each query that ran, with its sample count."""
        out = {}
        for q in self.queries:
            ms = [o.ms for o in self.ops if o.kind == q.name]
            if ms:
                out[q.name] = {"median_ms": p50(ms), "samples": len(ms)}
        return out


# -- per-layer summary (traced runs) ----------------------------------------------


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def summarize_layers(ops: list[Op]) -> dict[str, float]:
    """Per-layer metrics of traced ops: exec.* per call that ran Spark
    work, the operator and plan counters per call."""
    executed = [o for o in ops if o.layers.get("exec", {}).get("jobs")]
    out = {
        f"exec.{key}": _mean(o.layers["exec"][key] for o in executed)
        for key in EXEC_KEYS
    }
    out["operators.python_eval_nodes"] = _mean(
        o.layers["python_eval_nodes"] for o in ops if "python_eval_nodes" in o.layers
    )
    out["operators.checkpoint_bytes"] = _mean(
        o.layers.get("checkpoint_bytes", 0) for o in ops
    )
    out["plans.build_jobs"] = _mean(o.layers.get("build_jobs", 0) for o in ops)
    return out


def catalyst_layers(w: Workload) -> dict[str, float]:
    """catalyst.* per fresh analysis."""
    return {
        f"catalyst.{phase}_ms": _mean(a[phase] for a in w.analyses)
        for phase in CATALYST_PHASES
    }


def layers_by_kind(w: Workload) -> dict[str, dict[str, float]]:
    """The per-call layer metrics for each kind of call (for batch, each
    query) on its own."""
    kinds = dict.fromkeys(o.kind for o in w.ops)
    return {k: summarize_layers([o for o in w.ops if o.kind == k]) for k in kinds}


WORKLOADS = {cls.name: cls for cls in (FacadeHot, FacadeRefresh, BatchHeadline)}
