"""Engine — the session facade.

API parity with the reference's ``DirectSparkSession`` (the subclassed
SparkSession driving everything, DirectSparkSession.scala), rebuilt on a
*composed* (not subclassed) SparkSession:

- ``sql_directly(sql) -> DataTable``        (reference :88-127)
- ``register_table`` (reference :129-137) and ``execute_and_register_temp_view``
  (:181-219) bind names through one ``_bind_view``, db-qualified ones via a
  case-insensitive side registry like DirectSessionCatalog.directTempViews,
  which SQL reaches at the table references Spark's parser places;
  registered rows and materialized results sit in the driver's
  BlockManager behind a ``BlockRDD`` leaf (``_RowView``, ``_store_rows``),
  so a same-shape re-registration swaps them in place
  and keeps the cached plans that re-read them (``_swap_rows``), the
  reference's NamedLocalRelation handle (NamedLocalRelation.scala:25-44)
- ``temp_view(name) -> DataTable``          (reference :139-154)
- ``set_namespace`` / plan+result LRU cache keyed ``namespace + sql``
  (reference :91-92, :411-415, Guava cache → functools-style OrderedDict LRU);
  a statement's kind, whether a query is cached, and which entries a view
  change drops come from its parsed and analyzed plans
  (``TreePattern.COMMAND``, ``_PlanFacts``, ``_view_ddl_name``), not from
  the SQL text; any other command drops all
- ``new_session()`` isolation               (reference :81-86)
- ``explain(sql)`` issues Spark's EXPLAIN statement, so nothing is run;
  ``engine.spark`` is the raw session, and commands on it bypass the caches

Execution model (SURVEY.md §7.0): the reference rebuilt a single-threaded
iterator engine to avoid the DAG scheduler.  This engine runs the plans
that need a cluster as Spark jobs — the config preset below enables AQE and
keeps shuffle parallelism, because the target is 100 TB on a cluster — and
runs the small ones as the reference does: ``sql_directly`` drains a
single-partition, shuffle-free plan over in-memory leaves on the calling
thread, without a job (``direct.py``).  Kept from the reference's latency
story as well is the cache design: analyzed-plan reuse keyed by
(namespace, sql), result caching with invalidation on view registration
and on commands, and per-execution-stable ``now()`` semantics
(DirectExecutionContext.scala:47-58): a plan that reads the current time
is never reused, so each execution folds its own literal.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import threading
import time
import warnings
import weakref
from collections import OrderedDict, deque
from typing import Any, Iterable, NamedTuple

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, types as T

from direct_spark_sql_spark.datatable import DataTable
from direct_spark_sql_spark.direct import DirectFetch, load_helper


#: Config preset — the cluster-friendly analogue of the reference's pinned
#: profile (DirectSparkSession.scala:326-337).  The reference pins
#: shuffle.partitions=1/local[1] for its single-thread model; at 100 TB we
#: want the opposite: AQE-managed parallelism.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet scans: pushdown + pruning are defaults, keep them explicit
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.codegen.wholeStage": "true",
    # Runtime Bloom-filter join pre-filtering (guide §3.2, SPARK-32268):
    # enabled by default in Spark 4, but the stock thresholds make it
    # fire almost never — creation side capped at 10 MB (a selectively
    # filtered dimension at any real scale is bigger; the FILTER itself
    # stays ~1 MB, sized by expectedNumItems, so a larger creation side
    # costs one extra aggregate scan, not memory) and application side
    # must exceed 10 GB (skipping exactly the mid-size fact scans where
    # dropping non-matching rows before the exchange pays).  Raising /
    # lowering these is scale-directional: at cluster scale the filter
    # fires MORE, never less.  64 MB keeps the sf0.1 base tier (11 MB
    # lineitem) bit-identical in plan; the 30× tier measured q10
    # 2.54 → 1.86 s with might_contain pruning lineitem before its
    # orderkey shuffle.  ``Engine.builder().config(...)`` overrides both.
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "512MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "64MB",
}

#: Analyzed-plan leaf classes whose content cannot change outside the
#: facade's invalidation hooks.  LogicalRDD is what register_table binds
#: list-of-dicts and DataTable input to, and execute_and_register_temp_view
#: its result (``_rows_relation``), and what a registered
#: ``createDataFrame(list)`` DataFrame binds to (driver-local data, re-bound
#: only through register_table, which sweeps the caches); LocalRelation is
#: an inline ``VALUES`` or a registered DataFrame's local rows;
#: InMemoryRelation is rows Spark's CacheManager holds, to which the facade
#: adds none.  Everything else —
#: file scans, streaming sources, and notably LogicalRelation wrapping an
#: EXTERNAL relation like JDBC — is rejected: that data can change with no
#: invalidation hook ever firing.  CTERelationRef / UnionLoopRef are
#: pointers, not sources: their definitions are children of the enclosing
#: WithCTE / UnionLoop node, so the walk reaches the real leaves anyway.
_RESULT_CACHE_LEAVES = frozenset(
    {"LocalRelation", "LogicalRDD", "OneRowRelation", "Range",
     "InMemoryRelation", "CTERelationRef", "UnionLoopRef"}
)


class _PlanFacts(NamedTuple):
    """What the caches need to know about one analyzed plan.

    - ``names``: lower-cased name of every ``SubqueryAlias`` — temp views,
      catalog tables, and the views and tables inside SQL view bodies.
      Invalidation drops an entry whose names contain the changed view.
    - ``replayable``: no expression whose value Spark fixes once per
      analyzed plan — nondeterministic ones (``rand()``, ``uuid()``: the
      seed is picked during analysis) and current-time ones
      (``current_timestamp()``, ``current_time()``: folded to a literal on
      the plan's first optimization; the reference rebuilt
      DirectCurrentTimestamp for this, DirectSessionStateBuilder.scala:
      134-155) — and no catalog-table leaf, whose file listing analysis
      fixes, so a replay would miss a write made through ``engine.spark``.
      Only a replayable plan may be cached and re-executed.
    - ``in_memory``: every leaf is in ``_RESULT_CACHE_LEAVES``, so the
      data can only change through the facade's invalidation hooks.
    - ``rdd_ids``: the ids of the RDDs under the ``LogicalRDD`` leaves,
      which tell whether the plan reads the engine's row blocks.
    """

    names: frozenset
    replayable: bool
    in_memory: bool
    rdd_ids: frozenset


def _each(seq):
    """The elements of a Scala collection, read through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _jvm_class(jvm, fqn: str):
    """The JVM class ``fqn``, or for a Scala object, ``Name$``, its instance
    (``MODULE$``).  ``jvm.a.b.Name`` asks the JVM about every dotted
    segment; a ``JavaClass`` makes no round trip until a member is used."""
    cls = JavaClass(fqn, jvm._gateway_client)
    return getattr(cls, "MODULE$") if fqn.endswith("$") else cls


_TREE_PATTERN = "org.apache.spark.sql.catalyst.trees.TreePattern"


def _statistics(jvm, size_in_bytes: int, row_count: int):
    """Catalyst's ``Statistics(size_in_bytes, Some(row_count))``.  py4j hands
    every ``java.lang.Number`` back as a Python int, Scala's ``BigInt`` too,
    so each BigInt is parsed in the JVM, which returns it in an ``Option``,
    and the constructor is invoked reflectively on an argument array built
    in the JVM: sizeInBytes, rowCount, no column statistics, not runtime."""
    parse = _jvm_class(jvm, "scala.math.Numeric$BigIntIsIntegral$").parseString
    stats = _jvm_class(jvm, "org.apache.spark.sql.catalyst.plans.logical.Statistics")
    args = (
        parse(str(size_in_bytes)).toList()
        .appended(parse(str(row_count)))
        .appended(getattr(stats, "apply$default$3")())
        .appended(False)
    )
    any_ref = _jvm_class(jvm, "scala.reflect.ClassTag$").AnyRef()
    return stats._java_lang_class.getConstructors()[0].newInstance(args.toArray(any_ref))


def _row_tag(jvm):
    """Scala's ``ClassTag[InternalRow]``."""
    row_class = _jvm_class(jvm, "org.apache.spark.sql.catalyst.InternalRow")
    return _jvm_class(jvm, "scala.reflect.ClassTag$").apply(row_class._java_lang_class)


def _block_manager(jvm):
    """The driver's ``BlockManager``; None once the SparkContext stopped."""
    env = _jvm_class(jvm, "org.apache.spark.SparkEnv").get()
    return None if env is None else env.blockManager()


def _ingress_rows(df: DataFrame):
    """The output attributes and the JVM rows, as a Scala ``Seq``, of ``df``.
    A ``LocalRelation`` (Arrow ingress below
    ``spark.sql.execution.arrow.localRelationThreshold``, or a ``VALUES``
    query) already holds its rows in the driver; any other plan (Arrow
    batches above that threshold, a query) runs as one ``executeCollect``
    job that brings its rows into the driver."""
    leaf = df._jdf.logicalPlan()
    if leaf.nodeName() == "LocalRelation":
        return leaf.output(), leaf.data()
    rows = df._jdf.queryExecution().executedPlan().executeCollect()
    array_seq = _jvm_class(df._sc._jvm, "scala.collection.immutable.ArraySeq$")
    return leaf.output(), array_seq.unsafeWrapArray(rows)


#: Process-wide numbering of view storage: engines from new_session() share
#: one BlockManager, and two engines may share one SparkSession.
_VIEW_IDS = itertools.count()


class _RowView:
    """The rows a ``register_table`` or ``execute_and_register_temp_view``
    name binds, in the driver's
    ``BlockManager``: one ``MEMORY_AND_DISK`` block per slice, read through
    one ``BlockRDD`` whose partitions are those blocks.  Block ids are
    ``CacheId(sessionUUID, ...)``, Spark Connect's ids for cached local
    relations.  ``put`` with ``replace`` stores new rows under the same ids,
    so every plan whose leaf is ``rdd`` reads them on its next execution, as
    the reference's ``DynamicLocalTableScanExec`` reads its name's current
    rows (NamedLocalRelation.scala:25-44)."""

    __slots__ = (
        "schema", "slices", "rows", "block_ids", "rdd", "rdd_id", "binding", "_jvm", "_tag"
    )

    def __init__(self, spark: SparkSession, schema: T.StructType, slices: int):
        jvm = self._jvm = spark.sparkContext._jvm
        cache_id = _jvm_class(jvm, "org.apache.spark.storage.CacheId")
        uuid = spark._jsparkSession.sessionUUID()
        view = next(_VIEW_IDS)
        self.schema, self.slices, self.rows = schema, slices, 0
        #: ``Some(leaf)`` of the leaf ``_rows_relation`` built last, as the
        #: catalog's temp-view entry holds it
        self.binding = None
        self.block_ids = [cache_id(uuid, f"dss-view-{view}-{i}") for i in range(slices)]
        ids = spark.sparkContext._gateway.new_array(
            _jvm_class(jvm, "org.apache.spark.storage.BlockId"), slices
        )
        for i, block_id in enumerate(self.block_ids):
            ids[i] = block_id
        self._tag = _row_tag(jvm)
        self.rdd = _jvm_class(jvm, "org.apache.spark.rdd.BlockRDD")(
            spark._jsparkSession.sparkContext(), ids, self._tag
        )
        self.rdd_id = self.rdd.id()

    def put(self, rows, n: int, replace: bool = False) -> None:
        """Store ``rows``, a Scala ``Seq`` of ``n`` rows, one slice per
        block, cut where ``parallelize`` cuts; ``replace`` removes the
        blocks stored before."""
        blocks = _block_manager(self._jvm)
        storage_level = _jvm_class(self._jvm, "org.apache.spark.storage.StorageLevel")
        level = storage_level.MEMORY_AND_DISK()
        for i, block_id in enumerate(self.block_ids):
            if replace:
                blocks.removeBlock(block_id, True)
            part = rows.slice(i * n // self.slices, (i + 1) * n // self.slices)
            if not blocks.putIterator(block_id, part.iterator(), level, True, self._tag):
                raise RuntimeError(f"could not store view block {block_id.name()}")
        self.rows = n

    def remove(self) -> None:
        blocks = _block_manager(self._jvm)
        if blocks is not None:  # a stopped context took its blocks along
            for block_id in self.block_ids:
                blocks.removeBlock(block_id, True)

    def nbytes(self) -> int:
        """Memory plus disk bytes of the blocks, as the BlockManager holds them."""
        blocks = _block_manager(self._jvm)
        if blocks is None:
            return 0
        total = 0
        for block_id in self.block_ids:
            status = blocks.getStatus(block_id)
            if status.isDefined():
                total += status.get().memSize() + status.get().diskSize()
        return total


def _remove_rows_later(row_views: dict[str, _RowView]) -> None:
    """Remove, on a new thread, the row blocks of an engine the garbage
    collector took.  The collector may run inside a py4j call of this
    thread, whose connection cannot carry another command (py4j hands its
    own object releases to a worker for the same reason).  Best effort: a
    gateway that has shut down took the blocks along."""
    views = list(row_views.values())
    if not views:
        return

    def remove() -> None:
        with contextlib.suppress(Exception):
            for view in views:
                view.remove()

    threading.Thread(target=remove, name="dss-view-release", daemon=True).start()


def _rows_relation(spark: SparkSession, view: _RowView, output, rows: int) -> DataFrame:
    """A row-free ``LogicalRDD`` leaf with ``output`` over ``view``'s
    ``BlockRDD``, which holds ``rows`` rows, so Catalyst's rules do not walk
    the rows of every statement that reads them, as they walk a
    ``LocalRelation``'s (the reference keeps them behind a name,
    NamedLocalRelation.scala:25-44).

    The leaf carries the statistics a ``LocalRelation`` of the rows reports
    (``getSizePerRow(output) * rows``, ``rows``), so broadcast and exchange
    decisions are the ``LocalRelation``'s, and ``SinglePartition`` for one
    slice, so an aggregate plans without an Exchange.  ``view.binding``
    becomes the new leaf."""
    jvm = spark.sparkContext._jvm
    none = _jvm_class(jvm, "scala.None$")
    physical = "org.apache.spark.sql.catalyst.plans.physical."
    partitioning = (
        _jvm_class(jvm, physical + "SinglePartition$")
        if view.slices == 1
        else _jvm_class(jvm, physical + "UnknownPartitioning")(0)
    )
    estimation = _jvm_class(
        jvm, "org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils"
    )
    per_row = estimation.getSizePerRow(output, getattr(estimation, "getSizePerRow$default$2")())
    stats = _statistics(jvm, per_row * rows, rows)
    logical_rdd = _jvm_class(jvm, "org.apache.spark.sql.execution.LogicalRDD")
    relation = logical_rdd(
        output,
        view.rdd,
        partitioning,
        getattr(logical_rdd, "apply$default$4")(),  # no output ordering
        False,  # isStreaming
        none,  # stream
        spark._jsparkSession,
        _jvm_class(jvm, "scala.Some")(stats),
        none,  # constraints
    )
    view.binding = _jvm_class(jvm, "scala.Some")(relation)
    dataset = _jvm_class(jvm, "org.apache.spark.sql.classic.Dataset")
    return DataFrame(dataset.ofRows(spark._jsparkSession, relation), spark)


def _plan_facts(df: DataFrame) -> _PlanFacts:
    """One walk of ``df``'s analyzed plan and of every subquery plan inside
    it (``subqueriesAll``), which also covers view bodies, since analysis
    inlines them."""
    analyzed = df._jdf.queryExecution().analyzed()
    roots = [analyzed, *_each(analyzed.subqueriesAll())]
    current_like = _jvm_class(df._sc._jvm, _TREE_PATTERN).CURRENT_LIKE()
    names: set[str] = set()
    rdd_ids: set[int] = set()
    replayable = in_memory = True
    for root in roots:
        replayable = (
            replayable
            and root.deterministic()
            and not root.containsPattern(current_like)
        )
        stack = [root]
        while stack:
            p = stack.pop()
            node = p.nodeName()
            if node == "SubqueryAlias":
                names.add(p.identifier().name().lower())
            kids = list(_each(p.children()))
            stack.extend(kids)
            if node == "LogicalRDD":
                rdd_ids.add(p.rdd().id())
            elif not kids and node not in _RESULT_CACHE_LEAVES:
                in_memory = False
                if node == "HiveTableRelation" or (
                    node == "LogicalRelation" and p.catalogTable().isDefined()
                ):
                    replayable = False
    return _PlanFacts(frozenset(names), replayable, in_memory, frozenset(rdd_ids))


def _held_rdd_ids(df: DataFrame) -> frozenset[int] | None:
    """The ids of the RDDs that ``df``'s physical plan reads under a node
    that keeps a result across executions, or None when the plan must
    never be kept across a row swap: it scans a cached relation, or it
    cannot be walked.  A cached plan may stay across a swap of a view whose
    ``BlockRDD`` is not among them: any other node builds a new RDD chain
    over the leaf on every ``execute()``, so a replay reads the new rows.

    The nodes that keep a result are an exchange (a broadcast relation,
    ``BroadcastExchangeExec.relationFuture``, is computed once per plan; a
    replayed shuffle reuses its files), an AQE query stage other than the
    one that wraps the result, and a subquery (its result is computed once
    per plan).  ``ReusedExchange`` and ``ReusedSubquery`` keep their
    original's result: their ``child()`` is not among their ``children()``,
    nor is a query stage's ``plan()`` or an AQE plan's ``executedPlan()``.
    Walks the executed plan once; the answer is memoized on ``df``, unless
    an AQE plan in it has not run yet, whose final plan may differ."""
    if "_dss_held_rdds" in df.__dict__:
        return df.__dict__["_dss_held_rdds"]
    held: set[int] | None = set()
    final = True
    try:
        stack = [(df._jdf.queryExecution().executedPlan(), False)]
        while stack:
            p, keeps = stack.pop()
            node = p.nodeName()
            if node == "InMemoryTableScan":
                held = None
                break
            if node == "AdaptiveSparkPlan":
                final = final and p.isFinalPlan()
                stack.append((p.executedPlan(), keeps))
                continue
            if node == "ResultQueryStage":
                stack.append((p.plan(), keeps))
                continue
            if "QueryStage" in node:
                stack.append((p.plan(), True))
                continue
            if node in ("ReusedExchange", "ReusedSubquery"):
                stack.append((p.child(), True))
                continue
            if keeps and node.startswith("Scan ExistingRDD"):
                held.add(p.rdd().id())
            keeps = keeps or "Exchange" in node
            stack.extend((q, True) for q in _each(p.subqueries()))
            stack.extend((c, keeps) for c in _each(p.children()))
    except Exception:
        held, final = None, True
    out = None if held is None else frozenset(held)
    if final:
        df.__dict__["_dss_held_rdds"] = out
    return out


#: Parsed view DDL naming its view by its first child: an
#: ``UnresolvedIdentifier`` (CREATE/DROP VIEW, and DROP TABLE, which also
#: drops a temp view) or ``UnresolvedView`` (ALTER VIEW).
_VIEW_DDL = frozenset(
    {"CreateView", "DropView", "DropTable", "AlterViewAs", "AlterViewSchemaBinding",
     "SetViewProperties", "UnsetViewProperties"}
)


def _runs_in_analysis(parsed, command) -> bool:
    """Whether ``spark.sql`` runs the parsed statement ``parsed`` as it
    analyzes it: a command (``command`` is ``TreePattern.COMMAND``), or an
    INSERT, which stays a parsed statement until analysis, also under a
    WITH or as one branch of a multi-insert."""
    if parsed.containsPattern(command):
        return True
    stack = [parsed]
    while stack:
        p = stack.pop()
        node = p.nodeName()
        if node in ("InsertIntoStatement", "InsertIntoDir"):
            return True
        if node in ("UnresolvedWith", "Union"):
            stack.extend(_each(p.children()))
    return False


def _view_ddl_name(parsed) -> str | None:
    """The dotted name of the view a parsed view DDL names; None for any
    other statement, and for an IDENTIFIER(...) name, bound by analysis."""
    if parsed.nodeName() == "CreateViewCommand":  # temp-view DDL
        return parsed.name().unquotedString()
    if parsed.nodeName() in _VIEW_DDL:
        ident = parsed.children().head()
        if ident.nodeName() == "UnresolvedIdentifier":
            return ident.nameParts().mkString(".")
        if ident.nodeName() == "UnresolvedView":
            return ident.multipartIdentifier().mkString(".")
    return None


def _unbound_view(parsed) -> str | None:
    """The temp view a parsed statement takes its binding from: the name a
    DROP VIEW or DROP TABLE drops (also a registered qualified one, which
    ``_rewrite_qualified`` points at its mangled view), and the bare name a
    CREATE OR REPLACE TEMP VIEW or ALTER VIEW ... AS binds to a new plan;
    None for any other statement."""
    name = _view_ddl_name(parsed)
    node = parsed.nodeName()
    if name is None or node in ("DropView", "DropTable"):
        return name
    if "." in name:
        return None
    if node == "AlterViewAs" or (
        node == "CreateViewCommand" and parsed.viewType().toString() == "LocalTempView"
    ):
        return name
    return None


def _walk_plan_metrics(jnode, out: list[dict[str, Any]]) -> None:
    """Depth-first walk of a java SparkPlan collecting each node's raw
    SQLMetric values — descends through AQE roots and query stages so the
    FINAL physical operators (post-reoptimization) are what's reported."""
    node_entry: dict[str, Any] = {"operator": "<unreadable>", "metrics": {}}
    try:
        node_entry["operator"] = str(jnode.nodeName())
        node_entry["metrics"] = {
            str(kv._1()): kv._2().value() for kv in _each(jnode.metrics())
        }
    except Exception:
        # a node without the metrics surface (or a py4j hiccup) degrades to
        # ONE partial entry — the walk still descends, so a single bad node
        # cannot silently drop the rest of the subtree from shuffle/spill
        # totals (which feed bench.py's shuffle-regression gate).
        node_entry["partial"] = True
    out.append(node_entry)
    try:
        cls = jnode.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            _walk_plan_metrics(jnode.executedPlan(), out)
        elif "QueryStageExec" in cls:
            _walk_plan_metrics(jnode.plan(), out)
    except Exception:
        node_entry["partial"] = True
    try:
        for child in _each(jnode.children()):
            _walk_plan_metrics(child, out)
    except Exception:
        node_entry["partial"] = True


#: Process-wide call counter behind the job tags: engines from
#: new_session() share one SparkContext, so a per-engine counter could hand
#: two concurrent calls the same tag.
_CALL_IDS = itertools.count()


def _call_tag() -> str:
    return f"dss-call-{next(_CALL_IDS)}"


@contextlib.contextmanager
def _job_tag(sc, tag: str | None = None):
    """Tag every Spark job this thread launches inside the block with
    ``tag``, a fresh one by default (yielded).  Job tags are thread-local
    JVM properties, so concurrent calls on other threads keep their own
    jobs apart."""
    tag = tag or _call_tag()
    sc.addJobTag(tag)
    try:
        yield tag
    finally:
        sc.removeJobTag(tag)


def _empty_rollup() -> dict[str, Any]:
    """The execution rollup of a call that launched no job."""
    return {
        "shuffle_bytes_written": 0,
        "shuffle_records_written": 0,
        "spill_bytes": 0,
        "jobs": 0,
        "stages_run": 0,
        "stages_skipped": 0,
        "tasks": 0,
        "partial": False,
    }


def _stage_rollup(sc, tag: str) -> dict[str, Any]:
    """Execution rollup of the jobs tagged ``tag``: shuffle output and
    spill summed over their stages, plus job, stage and task counts.

    Read from Spark's status store, which is always on (also with the UI
    disabled) and keeps a record per stage of each job, so the values are
    per call by construction: a stage whose shuffle output an earlier call
    wrote shows up as SKIPPED, with zero metrics.  ``spill_bytes`` is
    ``memoryBytesSpilled``, the stage-level twin of the SQL ``spillSize``
    metric.  The store is filled asynchronously from the listener bus, so
    the bus is drained first; ``partial`` is True when it stayed busy past
    Spark's 10 s wait.  The store keeps only the last
    ``spark.ui.retainedJobs`` jobs: read a call's rollup soon after it."""
    jsc = sc._jsc.sc()
    out = _empty_rollup()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Py4JJavaError:  # TimeoutException: the bus stayed busy
        out["partial"] = True
    store = jsc.statusStore()
    for job_id in jsc.statusTracker().getJobIdsForTag(tag):
        job = store.job(job_id)
        out["jobs"] += 1
        out["stages_run"] += job.numCompletedStages()
        out["stages_skipped"] += job.numSkippedStages()
        out["tasks"] += job.numCompletedTasks() + job.numFailedTasks()
        for stage_id in _each(job.stageIds()):
            try:
                stage = store.lastStageAttempt(stage_id)
            except Py4JJavaError:
                # NoSuchElementException: past spark.ui.retainedStages the
                # store evicts SKIPPED stages first, even a moment-old one,
                # and a skipped stage wrote nothing
                continue
            out["shuffle_bytes_written"] += stage.shuffleWriteBytes()
            out["shuffle_records_written"] += stage.shuffleWriteRecords()
            out["spill_bytes"] += stage.memoryBytesSpilled()
    return out


class EngineBuilder:
    """``Engine.builder().master(...).config(...).get_or_create()``."""

    def __init__(self) -> None:
        self._master: str | None = None
        self._app_name = "direct_spark_sql_spark"
        self._conf: dict[str, str] = {}
        self._hive = False

    def master(self, master: str) -> "EngineBuilder":
        self._master = master
        return self

    def app_name(self, name: str) -> "EngineBuilder":
        self._app_name = name
        return self

    def config(
        self, key: "str | dict | None" = None, value: Any = None
    ) -> "EngineBuilder":
        """Set one conf or many — the reference Builder's typed overloads
        (String/Long/Double/Boolean and the whole-SparkConf form,
        DirectSparkSession.scala:254-297) collapse in Python to value
        coercion plus a dict overload (VERDICT r11 #8).  Booleans render
        JVM-style lowercase ``true``/``false``; ints and floats via str."""
        if isinstance(key, dict):
            if value is not None:
                raise TypeError("config(dict) takes no second argument")
            for k, v in key.items():
                self._conf[k] = self._coerce_conf(v)
            return self
        if key is None:
            raise TypeError("config() requires a key or a dict")
        self._conf[key] = self._coerce_conf(value)
        return self

    @staticmethod
    def _coerce_conf(value: Any) -> str:
        if isinstance(value, bool):
            return "true" if value else "false"
        if isinstance(value, (int, float, str)):
            return str(value)
        raise TypeError(f"unsupported conf value type: {type(value).__name__}")

    def enable_hive_support(self) -> "EngineBuilder":
        """Opt into a Hive-enabled session state so ``CREATE [TEMPORARY]
        FUNCTION f AS 'class'`` works with classes written against the
        *Hive* UDF APIs (``org.apache.hadoop.hive.ql.exec.UDF`` /
        ``GenericUDF`` / UDAF / UDTF) — the reference's registration
        contract (DirectSessionCatalog.scala:72-91).

        ``spark.sql.catalogImplementation`` is a static conf, frozen when
        the first SparkSession in the JVM is created — call this on the
        process's FIRST engine, not after a plain session already exists.
        """
        self._hive = True
        return self

    def get_or_create(self) -> "Engine":
        builder = SparkSession.builder.appName(self._app_name)
        if self._master:
            builder = builder.master(self._master)
        for k, v in {**ENGINE_CONF, **self._conf}.items():
            builder = builder.config(k, v)
        if self._hive:
            builder = builder.enableHiveSupport()
        spark = builder.getOrCreate()
        # Non-local masters run executor Python workers in their own
        # processes/machines where this package isn't importable; ship
        # it once via addPyFile (deploy.ship_package) so UDF/UDTF/
        # mapInPandas pickles resolve — the standard cluster deployment
        # step local[n] silently skips (r13 local-cluster differential).
        master = spark.sparkContext.master or ""
        if not master.startswith("local["):
            from direct_spark_sql_spark.deploy import ship_package

            try:
                ship_package(spark)
            except Exception as e:
                # a cluster with pre-installed packages needs nothing, so
                # the engine still comes up — but say why shipping failed
                warnings.warn(
                    f"could not ship the engine package to executors "
                    f"({type(e).__name__}: {e}); Python UDFs will fail "
                    f"unless the package is installed there",
                    RuntimeWarning,
                    stacklevel=2,
                )
        return Engine(spark)


class _LRU:
    """Tiny thread-safe LRU (reference: Guava cache, max "direct.plan.cache.size"
    entries, DirectSparkSession.scala:411-415).

    Optionally byte-budgeted (VERDICT r11 #7): an entry cap alone lets a
    thousand wide results pin real driver memory, so ``put`` accepts the
    entry's byte weight and eviction also runs while the tracked total
    exceeds ``max_bytes``.  An entry that alone exceeds the whole budget
    is refused outright (caching it would just evict everything else and
    still bust the budget)."""

    def __init__(self, capacity: int = 1000, max_bytes: int | None = None):
        self.capacity = capacity
        self.max_bytes = max_bytes
        self.bytes = 0
        self._sizes: dict[str, int] = {}
        self._data: OrderedDict[str, Any] = OrderedDict()
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0

    def get(self, key: str, count_miss: bool = True) -> Any | None:
        with self._lock:
            if key not in self._data:
                self.misses += count_miss
                return None
            self._data.move_to_end(key)
            self.hits += 1
            return self._data[key]

    def note_miss(self) -> None:
        """Count the miss of a ``get(key, count_miss=False)``."""
        with self._lock:
            self.misses += 1

    def __contains__(self, key: str) -> bool:
        """Membership probe that does NOT promote recency or count as a
        hit/miss — for assertions and invalidation checks only."""
        with self._lock:
            return key in self._data

    def __len__(self) -> int:
        with self._lock:
            return len(self._data)

    def _evict_locked(self, key: str) -> None:
        del self._data[key]
        self.bytes -= self._sizes.pop(key, 0)

    def put(self, key: str, value: Any, nbytes: int = 0) -> None:
        with self._lock:
            if key in self._data:
                self._evict_locked(key)
            if self.max_bytes is not None and nbytes > self.max_bytes:
                return
            self._data[key] = value
            self._sizes[key] = nbytes
            self.bytes += nbytes
            self._data.move_to_end(key)
            while len(self._data) > self.capacity or (
                self.max_bytes is not None and self.bytes > self.max_bytes
            ):
                self._evict_locked(next(iter(self._data)))

    def clear(self) -> None:
        with self._lock:
            self._data.clear()
            self._sizes.clear()
            self.bytes = 0

    def drop_where(self, predicate) -> None:
        """Evict every entry for which ``predicate(key, value)`` is true."""
        with self._lock:
            for key in [k for k, v in self._data.items() if predicate(k, v)]:
                self._evict_locked(key)

    def values(self) -> list:
        """A snapshot of the values, without promoting or counting."""
        with self._lock:
            return list(self._data.values())


class _ViewLock:
    """Readers-writer lock over the rows of registered views.

    A facade execution holds the read side while it runs a plan, so it
    reads one version of every view; swapping a view's rows, rebinding a
    view name and dropping a view hold the write side.  Writers are
    preferred: once one waits, new readers wait behind it, so a steady
    stream of calls cannot starve a refresh.  A thread that holds the read
    side reads again without waiting (``sql_directly`` inside a
    ``sql_iterator`` loop), and the writer may read and write again; a
    reader that asks for the write side raises ``RuntimeError``, as it
    would wait for itself forever.  Holds are counted per thread."""

    def __init__(self) -> None:
        self._cond = threading.Condition(threading.Lock())
        self._readers: dict[int, int] = {}  # thread id -> read holds
        self._writer: int | None = None
        self._writes = 0  # the writer's holds
        self._waiting = 0  # writers waiting

    @contextlib.contextmanager
    def read(self):
        me = threading.get_ident()
        with self._cond:
            if me != self._writer and me not in self._readers:
                while self._writer is not None or self._waiting:
                    self._cond.wait()
            self._readers[me] = self._readers.get(me, 0) + 1
        try:
            yield
        finally:
            with self._cond:
                self._readers[me] -= 1
                if not self._readers[me]:
                    del self._readers[me]
                    self._cond.notify_all()

    @contextlib.contextmanager
    def write(self):
        me = threading.get_ident()
        with self._cond:
            if me != self._writer:
                if me in self._readers:
                    raise RuntimeError(
                        "cannot change a registered view while this thread "
                        "reads views (inside a sql_iterator loop?)"
                    )
                self._waiting += 1
                try:
                    while self._writer is not None or self._readers:
                        self._cond.wait()
                finally:
                    self._waiting -= 1
                    self._cond.notify_all()  # readers held back by this writer
                self._writer = me
            self._writes += 1
        try:
            yield
        finally:
            with self._cond:
                self._writes -= 1
                if not self._writes:
                    self._writer = None
                    self._cond.notify_all()


class Engine:
    """PySpark-native engine session with the reference's API surface."""

    def __init__(
        self,
        spark: SparkSession,
        plan_cache_size: int = 1000,
        result_cache_size: int = 64,
        result_cache_max_bytes: int = 256 << 20,
    ):
        self.spark = spark
        #: Spark's SQL parser: a plan-cache miss parses once (``dataframe``)
        self._parser = spark._jsparkSession.sessionState().sqlParser()
        #: the temp views' catalog and Spark's cache registry, read by row swaps
        self._catalog = spark._jsparkSession.sessionState().catalog()
        self._cache_manager = spark._jsparkSession.sharedState().cacheManager()
        self._namespace = ""
        #: (namespace+sql) -> analyzed DataFrame; re-executes lazily with
        #: fresh view data, mirroring the reference's plan-cache-with-late-
        #: bound-scan design (NamedLocalRelation.scala:25-44).
        self._plan_cache = _LRU(plan_cache_size)
        #: db-qualified temp views by lower-cased name, reference:
        #: DirectSessionCatalog.directTempViews (DirectSessionCatalog.scala:55).
        self._qualified_views: dict[str, DataFrame] = {}
        #: name -> the block storage of rows register_table or
        #: execute_and_register_temp_view bound to it; a same-shape
        #: re-registration swaps the rows in place (``_swap_rows``), any
        #: other rebind or drop removes them.
        self._row_views: dict[str, _RowView] = {}
        #: read by facade executions, written by row swaps, rebinds, drops
        self._views = _ViewLock()
        #: plan-cache entries kept across row swaps, summed over swaps
        self._plans_kept = 0
        #: the rows live as long as the engine: an engine dropped without
        #: ``stop()`` (a ``new_session()`` child) removes its blocks when
        #: collected; at interpreter exit the JVM takes them along
        self._release_rows = weakref.finalize(self, _remove_rows_later, self._row_views)
        self._release_rows.atexit = False
        #: (DataFrame, wall_sec, result_rows, job tag, frozen stage
        #: rollup, direct) of the most recent sql_directly — backs last_metrics()
        #: (reference: per-execution SQLMetric map,
        #: DirectSQLMetrics.scala:21-72, DirectExecutionContext.scala:45).
        self._last_execution: tuple | None = None
        #: Result cache — the Spark analogue of the reference's sub-ms
        #: repeated query, a cached single-node plan re-run on the calling
        #: thread (DirectPlan.scala:79-83).  A cold call pays parsing,
        #: analysis, optimization and planning, plus a job's ~30 ms floor
        #: of stage scheduling unless it runs direct (``_direct``), so the
        #: fast path keeps the materialized result of a replayable query
        #: over in-memory leaves only
        #: (``_PlanFacts``), dropped by exactly the invalidation that drops
        #: cached plans.  An entry is the result's immutable Arrow table,
        #: shared by every hit and weighed by its exact ``nbytes``: the
        #: entry cap and the byte budget bound the cache; no row cap.
        self._result_cache = _LRU(result_cache_size, result_cache_max_bytes)
        self.result_cache_enabled = result_cache_size > 0
        #: bumped on every invalidation event (view re-register, any
        #: command).  A result computed against pre-invalidation data
        #: can finish AFTER the invalidation sweep ran; comparing the epoch
        #: captured before execution against the current one at put() time
        #: keeps that in-flight stale result out of the cache.
        self._invalidation_epoch = 0
        #: bounded ring buffer of per-call summaries (no plan walks — the
        #: cheap always-on sibling of last_metrics()); see metrics_history()
        self._call_history: deque = deque(maxlen=200)
        self._lock = threading.Lock()
        #: the driver-side helper that fetches every result (``direct.py``);
        #: built here, so a first javac run lands in Engine start, not in a
        #: call.  None when its jar cannot be built: ``collect()`` fetches.
        self._direct = load_helper(spark)
        #: UDF surface (reference: DirectSessionCatalog.scala:62-112 Hive
        #: UDF registration): engine functions callable from SQL text.
        from direct_spark_sql_spark.functions import register_udfs

        self.registered_udfs = register_udfs(spark)

    @staticmethod
    def builder() -> EngineBuilder:
        return EngineBuilder()

    # -- namespace / cache --------------------------------------------------

    def set_namespace(self, namespace: str) -> None:
        """Cache-key prefix for multi-tenant isolation (reference:
        DirectSparkSession.scala:221-223)."""
        self._namespace = namespace

    def _cache_key(self, sql: str) -> str:
        return f"{self._namespace}\x00{sql}"

    # -- ingress ------------------------------------------------------------

    def register_table(
        self,
        name: str,
        rows: Iterable[dict[str, Any]] | DataTable | DataFrame,
        schema: T.StructType | str | None = None,
    ) -> None:
        """Register in-memory data as a (possibly db-qualified) temp view.

        Reference: registerTempView (DirectSparkSession.scala:129-137) with
        the lenient list-of-dicts coercion of DirectDataTable.fromJavaMapList.

        Rows are stored in the driver's ``BlockManager`` behind one
        ``BlockRDD`` (``_RowView``).  Re-registering a name with rows of the
        same schema and slice count swaps the rows in place
        (``_swap_rows``), so cached plans that cannot hold the old rows stay
        cached; otherwise the name is rebound and the old rows removed.
        Either way this takes the write side of the view lock, so it raises
        ``RuntimeError`` inside a ``sql_iterator`` loop.
        """
        if isinstance(rows, DataFrame):
            return self._bind_view(name, rows)
        if not isinstance(rows, DataTable):
            if schema is None:
                raise ValueError("schema is required for list-of-dicts input")
            rows = DataTable.from_list_of_dicts(rows, schema)
        self._store_rows(name, rows.schema, *_ingress_rows(rows.to_dataframe(self.spark)))

    def _store_rows(self, name: str, schema: T.StructType, output, jrows) -> int:
        """Store ``jrows``, the JVM rows ``_ingress_rows`` read, with
        ``output`` and ``schema``, as the rows of view ``name``; returns
        their count.  A same-shape name swaps its rows in place
        (``_swap_rows``); any other is bound to a new ``_RowView``.

        The rows are sliced once, here, at ~50k rows per partition: a small
        view scans as one partition, which a cold call drains on its own
        thread (direct.py) or scans in one task, while a large one keeps up
        to defaultParallelism partitions."""
        n = jrows.size()
        parallelism = self.spark.sparkContext.defaultParallelism
        slices = max(1, min(parallelism, n // 50_000))
        with self._lock:
            view = self._row_views.get(name.lower())
        same_shape = view is not None and (view.schema, view.slices) == (schema, slices)
        if same_shape and self._swap_rows(name, view, output, jrows, n):
            return n
        view = _RowView(self.spark, schema, slices)
        view.put(jrows, n)
        self._bind_view(name, _rows_relation(self.spark, view, output, n), rows=view)
        return n

    def _swap_rows(self, name: str, view: _RowView, output, jrows, n: int) -> bool:
        """Replace ``view``'s rows with ``jrows`` in place.  When the row
        count changed, rebind ``name`` to a leaf over the same ``BlockRDD``
        with the new statistics, so new analyses plan from the new size;
        the statistics depend on nothing else, so with an equal count the
        binding stays, unless a statement on ``engine.spark`` rebound or
        dropped the view.  Cached results that read the name drop; a cached
        plan stays when no node of it that keeps a result across executions
        reads the view (``_held_rdd_ids``), so a re-execution reads the new
        rows.

        False, with nothing changed, when ``name`` no longer binds ``view``
        or Spark's CacheManager holds any entry: ``LogicalRDD.sameResult``
        compares ``rdd.id``, which a swap keeps, so a cached plan over the
        old rows would answer new queries."""
        key = name.lower()
        with self._views.write():
            with self._lock:
                if self._row_views.get(key) is not view:
                    return False
            if not self._cache_manager.isEmpty():
                return False
            raw = self._catalog.getRawTempView(self._mangle(key))
            bound = raw.isDefined() and raw.get().plan().equals(view.binding)

            def keep(df: DataFrame) -> bool:
                # plans analyzed while a foreign binding held the name drop
                if not bound:
                    return False
                held = _held_rdd_ids(df)
                return held is not None and view.rdd_id not in held

            resized = n != view.rows
            view.put(jrows, n, replace=True)
            if resized or not bound:
                relation = _rows_relation(self.spark, view, output, n)
                self._bind_view(name, relation, rows=view, keep=keep)
            else:
                self._drop_cached_plans_referencing(name, keep)
        return True

    def _bind_view(
        self, name: str, df: DataFrame, rows: _RowView | None = None, keep=None
    ) -> None:
        """The only code that binds a view name (reference: createTempView,
        DirectSparkSession.scala:129-137, 181-219); a db-qualified one also
        goes to the side registry (DirectSessionCatalog.scala:130-145).
        ``rows`` is the block storage of ``df``'s leaf; the blocks held
        under the name before are removed unless they are ``rows``.  Cached
        plans and results that read the name drop, except plans ``keep(df)``
        holds.  Runs under the write side of the view lock.  Names are
        case-insensitive, as in SQL."""
        key = name.lower()
        with self._views.write():
            with self._lock:
                old_rows = self._row_views.pop(key, None)
                if "." in key:
                    self._qualified_views[key] = df
                df.createOrReplaceTempView(self._mangle(key))  # identity if bare
                if rows is not None:
                    self._row_views[key] = rows
            # Cached analyzed plans bound the old binding: drop them, so
            # they re-analyze.  Outside the lock: _lock is not reentrant.
            self._drop_cached_plans_referencing(name, keep)
            if old_rows is not None and old_rows is not rows:
                old_rows.remove()

    def _stores(self, name: str) -> bool:
        """Whether the engine holds rows or a registry entry under view
        ``name``, which view DDL that drops or rebinds it must release."""
        key = name.lower()
        with self._lock:
            return key in self._row_views or key in self._qualified_views

    def _reads_stored_rows(self, df: DataFrame) -> bool:
        """Whether ``df`` reads row blocks of this engine."""
        facts = df.__dict__.get("_dss_plan_facts") or _plan_facts(df)
        with self._lock:
            stored = {v.rdd_id for v in self._row_views.values()}
        return not stored.isdisjoint(facts.rdd_ids)

    def _unbind(self, name: str) -> None:
        """Forget the storage of a view name that view DDL dropped or
        rebound (``_unbound_view``) and remove its blocks, under the write
        side of the view lock."""
        key = name.lower()
        with self._lock:
            self._qualified_views.pop(key, None)
            rows = self._row_views.pop(key, None)
        if rows is not None:
            rows.remove()

    @staticmethod
    def _mangle(qualified: str) -> str:
        return qualified.replace(".", "__")

    def _drop_cached_plans_referencing(self, name: str | None, keep=None) -> None:
        """Evict cached plans and results whose analyzed plan reads view
        ``name``, directly or through a view body (``_PlanFacts.names``);
        ``None`` evicts every entry.  A plan for which ``keep(df)`` holds
        stays cached (a row swap's ``_held_rdd_ids`` rule); its result drops.

        The name is normalized first: backticks stripped, and a qualified
        ``db.view`` also matches its bare view name and the mangled
        ``db__view`` it is registered under, so every spelling of the view
        drops the entry.  Over-invalidation (an alias or CTE that happens
        to share the name) re-analyzes; it never corrupts.
        """
        if name is not None:
            norm = name.replace("`", "").lower()
            variants = {norm, norm.rsplit(".", 1)[-1], self._mangle(norm)}

        def _references(df: DataFrame) -> bool:
            return name is None or not variants.isdisjoint(
                df.__dict__["_dss_plan_facts"].names
            )

        # Drop-then-bump, all under the same lock the epoch-guarded puts
        # take (plan cache in dataframe(), result cache in sql_directly).
        # Both orderings matter:
        # - puts: a put that passed its epoch check happened strictly
        #   before the bump, hence before nothing — but the sweep's drops
        #   run in the same critical section, so either the drop evicts
        #   the entry (put preceded the section) or the check fails (put
        #   followed the bump).  Dropping OUTSIDE the lock (pre-round-5)
        #   left a window where a stale plan could land after the sweep.
        # - reads: sql_directly snapshots the epoch unlocked BEFORE its
        #   cache lookups; bumping AFTER the drops means a reader that
        #   observes the new epoch can no longer find a displaced entry
        #   (drops already done), while a reader holding the old epoch
        #   has every put rejected.  Bumping FIRST would let a reader
        #   capture the new epoch, win the cache lock before the drop,
        #   execute the stale plan, and cache its rows at the new epoch.
        # keep() may walk a plan over py4j, so it is asked before the lock;
        # a plan put after this snapshot is not in ``kept``, so it drops
        kept = {
            id(df): df
            for df in (self._plan_cache.values() if keep else ())
            if _references(df) and keep(df)
        }
        with self._lock:
            self._plan_cache.drop_where(
                lambda _, df: _references(df) and id(df) not in kept
            )
            self._result_cache.drop_where(lambda _, hit: _references(hit[2]))
            self._invalidation_epoch += 1
            self._plans_kept += len(kept)

    def _rewrite_qualified(self, sql: str, parsed=None) -> str:
        """``sql`` with the mangled name spliced over each reference to a
        registered qualified view: an ``UnresolvedRelation`` of ``parsed``
        (parsed here if not given), found through ``children`` (a view
        DDL's body too), ``innerChildren`` (expression subqueries, CTE
        definitions) and an INSERT's target.  Its ``origin`` bounds are inclusive
        offsets into ``sql``.  Literals and comments are no relations.
        A ``DROP VIEW`` or ``DROP TABLE`` of a registered qualified view
        drops the mangled view (its identifier's ``origin`` spans the whole
        statement, so the statement is rebuilt, not spliced)."""
        with self._lock:  # one snapshot: _bind_view writes under this lock
            names = list(self._qualified_views)
        if not names:
            return sql
        mangled = {n: self._mangle(n) for n in names}
        if parsed is None:
            parsed = self._parser.parsePlan(sql)
        if parsed.nodeName() in ("DropView", "DropTable"):
            view = (_view_ddl_name(parsed) or "").lower()
            if view in mangled:
                kind = "VIEW" if parsed.nodeName() == "DropView" else "TABLE"
                exists = "IF EXISTS " if parsed.ifExists() else ""
                return f"DROP {kind} {exists}`{mangled[view]}`"
        spans: dict[tuple[int, int], str] = {}
        stack = [parsed]
        while stack:
            p = stack.pop()
            node = p.nodeName()
            if node == "UnresolvedRelation":
                name = p.multipartIdentifier().mkString(".").lower()
                if name in mangled:
                    origin = p.origin()
                    span = (origin.startIndex().get(), origin.stopIndex().get())
                    spans[span] = mangled[name]
            elif node == "InsertIntoStatement":
                stack.append(p.table())
            stack.extend(_each(p.children()))
            stack.extend(_each(p.innerChildren()))
        for (start, stop), name in sorted(spans.items(), reverse=True):
            sql = sql[:start] + name + sql[stop + 1 :]
        return sql

    # -- query --------------------------------------------------------------

    def dataframe(self, sql: str) -> DataFrame:
        """Analyzed (lazy) DataFrame for a SQL text, via the plan cache.

        Only queries are cached, so a hit parses nothing.  A miss parses
        once; the parsed plan routes function DDL, places qualified view
        names and names a view DDL's view.  The analyzed plan tells a
        command (``TreePattern.COMMAND``: DDL, DML, SET, USE, ...) from a
        query.  ``spark.sql`` has already run a command; it is never
        cached, and it drops the entries that read the view its view DDL
        names, or else every entry, since it may have changed data, a conf
        or the namespace that cached plans bound.  A query's plan is
        walked once for its ``_PlanFacts``, memoized on the DataFrame.
        Only a replayable plan is cached: re-executing one that reads a
        catalog table would miss writes made through ``engine.spark``,
        and one that reads the current time or a seeded random value
        would freeze that value across executions —
        the bug the reference built DirectCurrentTimestamp to avoid
        (DirectCurrentDate.scala:26-50).  Such a statement is re-analyzed
        per call, so each execution sees the table as it is and gets one
        time or seed, stable across the whole plan.

        A command runs inside ``spark.sql``, under the read side of the
        view lock (``_runs_in_analysis``); a query is analyzed outside it,
        since analysis reads no rows.  View DDL that drops or rebinds a
        name under which the engine stores rows (``_unbound_view``,
        ``_stores``) runs under the write side instead and removes that
        name's row blocks.
        """
        key = self._cache_key(sql)
        df = self._plan_cache.get(key, count_miss=False)
        if df is not None:
            return df
        parsed = self._parser.parsePlan(sql)
        if parsed.nodeName() in ("CreateFunctionCommand", "CreateFunction"):
            return self._register_function_ddl(sql, parsed)
        unbound = _unbound_view(parsed)
        if unbound is not None and self._stores(unbound):
            with self._views.write():
                df = self.spark.sql(self._rewrite_qualified(sql, parsed))
                self._unbind(unbound)
                self._drop_cached_plans_referencing(unbound)
            return df
        # Epoch captured BEFORE analysis: spark.sql() binds the view data
        # visible NOW, so if an invalidation sweep (view swap + epoch bump
        # + drop) completes before our put, this plan may hold the
        # displaced binding.  The put is epoch-guarded and atomic with the
        # sweep (same lock): a put that passes the check strictly precedes
        # any bump, whose sweep then evicts it — a stale analyzed plan can
        # never survive an invalidation and feed post-invalidation result
        # caching.
        epoch = self._invalidation_epoch
        # spark.sql runs a command as it analyzes it: one that reads views
        # (CTAS, INSERT ... SELECT, CACHE TABLE ... AS) reads one version
        command = _jvm_class(self.spark.sparkContext._jvm, _TREE_PATTERN).COMMAND()
        runs = _runs_in_analysis(parsed, command)
        with self._views.read() if runs else contextlib.nullcontext():
            df = self.spark.sql(self._rewrite_qualified(sql, parsed))
        if df._jdf.queryExecution().analyzed().containsPattern(command):
            self._drop_cached_plans_referencing(_view_ddl_name(parsed))
            return df
        self._plan_cache.note_miss()
        facts = df.__dict__["_dss_plan_facts"] = _plan_facts(df)
        if facts.replayable:
            with self._lock:
                if epoch == self._invalidation_epoch:
                    self._plan_cache.put(key, df)
        return df

    def sql_directly(self, sql: str) -> DataTable:
        """Execute SQL and materialize the result (reference:
        sqlDirectly, DirectSparkSession.scala:88-127).

        Warm repeated queries take the result cache (see ``__init__``):
        a replayable query over in-memory leaves only, whose referenced
        views haven't changed, returns its previously materialized result
        without re-running it.  Any other call is one helper call
        (``_fetch``): a query over in-memory leaves whose plan has one
        partition and no shuffle or Python node, a ``LIMIT`` or top-k
        too, runs on the calling thread without a Spark job, the
        reference's same-thread iterator; any other runs as a job.

        The fetch holds the read side of the view lock, so it reads one
        version of every registered view.
        """
        # Epoch captured BEFORE the plan-cache lookup: an invalidation
        # that lands anywhere between the lookup and the put (including
        # during the stage-rollup py4j reads) must fail the put check, or
        # a result computed from the displaced plan could poison the cache
        # until the NEXT invalidation.
        epoch = self._invalidation_epoch
        df = self.dataframe(sql)  # plan-cache get: stats + invalidation
        facts = df.__dict__.get("_dss_plan_facts")  # None for a command
        cacheable = self._cacheable(facts)
        key = self._cache_key(sql)
        if cacheable:
            t0 = time.perf_counter()
            hit = self._result_cache.get(key)
            if hit is not None:
                # the Arrow table is immutable: a fresh DataTable shares it,
                # and builds its own rows if the caller reads them
                schema, arrow, hit_df, rollup, direct = hit
                wall = time.perf_counter() - t0
                self._last_execution = (
                    hit_df, wall, arrow.num_rows, None, rollup, direct
                )
                self._record_call(sql, wall, arrow.num_rows, True)
                return DataTable(schema, arrow)
        with self._views.read():
            if facts is not None and epoch != self._invalidation_epoch:
                # A view changed after the lookup, and a plan dropped by a
                # row swap may hold a broadcast of the old rows: look the
                # plan up again, now that no swap can land before the fetch.
                epoch = self._invalidation_epoch
                df = self.dataframe(sql)
                facts = df.__dict__["_dss_plan_facts"]
                cacheable = self._cacheable(facts)
            tag = _call_tag()
            t0 = time.perf_counter()
            in_memory = facts is not None and facts.in_memory
            table, direct, launched = self._fetch(df, tag, in_memory)
            wall = time.perf_counter() - t0
        # a call during which no job was submitted has nothing to read
        # from the status store, so skip the listener-bus drain
        rollup = None if launched else _empty_rollup()
        self._last_execution = (df, wall, len(table), tag, rollup, direct)
        self._record_call(sql, wall, len(table), False)
        if cacheable:
            # The execution rollup is frozen AT PUT TIME: the status store
            # evicts old jobs, so a hit long after the put could no longer
            # read the materializing call's stages.
            if rollup is None:
                rollup = _stage_rollup(self.spark.sparkContext, tag)
            # atomic with the invalidation sweep, which drops entries and
            # bumps the epoch under the same lock
            with self._lock:
                if epoch == self._invalidation_epoch:
                    self._result_cache.put(
                        key,
                        (table.schema, table.arrow, df, rollup, direct),
                        nbytes=table.arrow.nbytes,
                    )
        return table

    def _fetch(self, df: DataFrame, tag: str, direct: bool) -> tuple[DataTable, bool, bool]:
        """``df``'s result in one helper call (``direct.py``), drained on the
        calling thread if ``direct`` and the plan allows, every job tagged
        ``tag``; also whether it drained and whether a job may have run.
        Without the helper (no JDK), ``DataTable.from_dataframe`` collects."""
        if self._direct is None:
            with _job_tag(self.spark.sparkContext, tag):
                return DataTable.from_dataframe(df), False, True
        fetch = DirectFetch(self._direct)
        return DataTable(df.schema, fetch(df, tag, direct)), fetch.ran, fetch.launched_jobs

    def _cacheable(self, facts: _PlanFacts | None) -> bool:
        """Whether the result of a plan with ``facts`` may be cached: a
        replayable query over in-memory leaves only."""
        return (
            self.result_cache_enabled
            and facts is not None
            and facts.replayable
            and facts.in_memory
        )

    def _record_call(self, sql: str, wall: float, rows: int, hit: bool) -> None:
        self._call_history.append(
            {
                "sql": sql if len(sql) <= 200 else sql[:200] + "…",
                "wall_sec": wall,
                "rows": rows,
                "result_cache_hit": hit,
                "ts": time.time(),
            }
        )

    def metrics_history(self, n: int = 50) -> list[dict[str, Any]]:
        """The last ``n`` ``sql_directly`` calls, newest last: statement
        (truncated), wall seconds, result rows, result-cache hit flag,
        unix timestamp.  Always-on and walk-free (unlike
        :meth:`last_metrics`, which reads the status store and walks the
        executed plan), so a long-lived service can expose its recent
        query log at zero per-call cost — the operational readout the
        reference's per-execution context map implies but never surfaces
        (DirectExecutionContext.scala:45)."""
        if n <= 0:
            return []  # list[-0:] would be the WHOLE history
        return list(self._call_history)[-n:]

    def sql_iterator(self, sql: str):
        """Execute SQL and stream the result rows as dicts WITHOUT
        materializing the full result on the driver — the pull-based
        result contract the reference exposes as ``Iterator[InternalRow]``
        (DirectPlan.scala:81-83).  Backed by ``toLocalIterator`` with
        partition prefetch: one partition is in driver memory at a time
        (plus one being fetched), so a larger-than-driver result can be
        consumed incrementally.

        An iteration that reads registered rows holds the read side of the
        view lock until the generator is exhausted or closed, so it reads
        one version of them: re-registering or dropping such a view inside
        the loop raises ``RuntimeError``, and on another thread it waits,
        as do the cold calls queued behind that writer."""
        epoch = self._invalidation_epoch
        df = self.dataframe(sql)
        with contextlib.ExitStack() as held:
            held.enter_context(self._views.read())
            if "_dss_plan_facts" in df.__dict__ and epoch != self._invalidation_epoch:
                df = self.dataframe(sql)  # as in sql_directly
            if not self._reads_stored_rows(df):
                held.close()  # no row change touches it: let writers run
            for row in df.toLocalIterator(prefetchPartitions=True):
                yield row.asDict(recursive=True)

    def execute_and_register_temp_view(self, sql: str, name: str) -> int:
        """Materialize a query into a new (possibly db-qualified) temp view;
        returns the row count (reference: DirectSparkSession.scala:181-219).

        The result is a snapshot: like the reference, which copies the rows
        into a new relation under the name, the query runs once and its
        rows are collected into driver blocks, stored as ``register_table``
        stores rows (``_store_rows``), so a later change of the views it
        read leaves it as it is.  ``spark.driver.maxResultSize`` bounds the
        result: a larger one fails the call, and the name keeps its rows.
        The query reads one version of every view; a name with a result of
        the same schema and slice count swaps its rows in place.
        """
        with self._views.read():  # materializes one version of each view
            df = self.spark.sql(self._rewrite_qualified(sql))
            ingress = _ingress_rows(df)
        return self._store_rows(name, df.schema, *ingress)

    def _register_function_ddl(self, sql: str, parsed) -> DataFrame:
        """JVM UDF DDL surface (reference: CREATE FUNCTION ... AS 'class',
        DirectSessionCatalog.scala:72-91; DirectExecSuite.scala:159-178).
        ``parsed`` is its ``CreateFunctionCommand`` or ``CreateFunction``.

        Two class contracts are accepted:

        - ``org.apache.spark.sql.api.java.UDF1..22`` — registered via
          ``registerJavaFunction`` (return type inferred from the generic
          signature).  Works in any session.
        - Hive-API classes (``org.apache.hadoop.hive.ql.exec.UDF`` /
          ``GenericUDF`` / UDAF / UDTF) — the DDL text is passed through to
          Spark SQL, whose Hive session catalog builds the HiveUDF wrapper.
          Requires ``EngineBuilder.enable_hive_support()``; in a plain
          session the passthrough raises Spark's descriptive error.

        Returns an empty result like any DDL statement."""
        from direct_spark_sql_spark.functions.jvm import register_java_function

        if parsed.nodeName() == "CreateFunction":
            name = parsed.child().nameParts().mkString(".")
        else:
            name = parsed.identifier().unquotedString()
        try:
            for r in _each(parsed.resources()):
                if r.resourceType().resourceType() == "jar":
                    self.spark.sql(f"ADD JAR '{r.uri()}'")
            register_java_function(self.spark, name, parsed.className())
        except Exception:
            # Not a Spark Java UDF interface (or not loadable as one):
            # delegate to Spark SQL's own function DDL, which resolves
            # Hive-API classes when the session is Hive-enabled.
            self.spark.sql(sql)
        # a cached ANALYZED plan bound the old implementation at resolution
        # time and would re-execute it.  Like any command, drop every entry
        # after the statement ran: a reader seeing the new epoch analyzes
        # against the new function.  Cheap, and DDL is rare.
        self._drop_cached_plans_referencing(None)
        return self.spark.sql(
            f"SELECT '{name}' AS function_registered"
        ).limit(0)

    # -- egress -------------------------------------------------------------

    def cache_stats(self) -> dict[str, int]:
        """Plan-cache observability: hits / misses / live entries /
        capacity.  The reference's repeated-query latency rests entirely
        on this cache (Guava stats were reachable but unexposed,
        DirectSparkSession.scala:411-415); operating a shared engine
        without a hit-rate signal means flying blind, so the rebuild
        exposes it.  Also the result cache's counts and bytes,
        ``view_bytes``, the memory plus disk bytes the BlockManager holds
        for this engine's views, registered rows and materialized results
        alike, and ``plans_kept``, the plan entries kept across row swaps,
        summed over swaps."""
        c = self._plan_cache
        with c._lock:
            out = {
                "hits": c.hits,
                "misses": c.misses,
                "entries": len(c._data),
                "capacity": c.capacity,
            }
        r = self._result_cache
        with r._lock:
            out.update(
                {
                    "result_hits": r.hits,
                    "result_misses": r.misses,
                    "result_entries": len(r._data),
                    "result_capacity": r.capacity,
                    "result_bytes": r.bytes,
                    "result_max_bytes": r.max_bytes,
                }
            )
        with self._lock:
            views = list(self._row_views.values())
            out["plans_kept"] = self._plans_kept
        out["view_bytes"] = sum(v.nbytes() for v in views)
        return out

    def last_metrics(self) -> dict[str, Any] | None:
        """Execution metrics of the most recent ``sql_directly``.

        The reference exposes a per-plan-node SQLMetric map
        (DirectSQLMetrics.scala:21-72, wired through DirectPlan.scala:
        63-77) and resets it on every execution
        (DirectExecutionContext.scala:45).  Returns ``None`` before any
        ``sql_directly`` call; otherwise:

        - ``wall_sec``, ``output_rows``, ``result_cache_hit``;
        - ``direct``: True when the result was drained on the calling
          thread without a Spark job (``direct.py``).  Such a call runs
          whatever the master's core count, and ``cancelJobsWithTag``
          cannot stop it, only the jobs it launched;
        - the call's own execution rollup, summed over the stages of the
          jobs Spark launched under the call's job tag (see
          ``_stage_rollup``): ``shuffle_bytes_written``,
          ``shuffle_records_written``, ``spill_bytes``, ``jobs``,
          ``stages_run``, ``stages_skipped``, ``tasks``.  Per call by
          construction: a re-executed cached plan whose shuffle stages
          Spark reuses reports them as skipped, not as bytes written
          again.  A direct call counts only the jobs ``execute()``
          launched, such as a broadcast build; a call that launched none
          reads zeros without draining the listener bus.  A result-cache
          hit launches no job; it returns the rollup and ``direct`` flag
          frozen when the result was cached;
        - ``operators``: every physical node of the executed plan (through
          AQE final plans and query stages) with its raw SQLMetric values,
          and ``peak_memory_bytes``, their largest ``peakMemory``.  Each
          execution resets them first, as Spark's actions do, so they
          describe the plan's last execution, also for a hit; a direct
          drain merges its task copy's metrics into the plan's own;
        - ``partial``: True when a py4j failure truncated the plan walk or
          the listener bus could not be drained before the rollup read."""
        if self._last_execution is None:
            return None
        # tag is None for a result-cache hit, which carries its rollup
        df, wall, n_rows, tag, rollup, direct = self._last_execution
        if rollup is None:
            rollup = _stage_rollup(self.spark.sparkContext, tag)
        nodes: list[dict[str, Any]] = []
        _walk_plan_metrics(df._jdf.queryExecution().executedPlan(), nodes)
        return {
            "wall_sec": wall,
            # the statement's actual result-row count (counted at the
            # egress boundary — plan-root numOutputRows would report a
            # deep operator's count for roots like CollectLimit that
            # carry no metric themselves)
            "output_rows": n_rows,
            **rollup,
            "peak_memory_bytes": max(
                (
                    n["metrics"]["peakMemory"]
                    for n in nodes
                    if "peakMemory" in n["metrics"]
                ),
                default=0,
            ),
            "result_cache_hit": tag is None,
            "direct": direct,
            "partial": rollup["partial"] or any(n.get("partial") for n in nodes),
            "operators": nodes,
        }

    def explain(self, sql: str, mode: str = "formatted") -> str:
        """Plan text for a SQL statement, which is never run: Spark's
        ``EXPLAIN [EXTENDED|CODEGEN|COST|FORMATTED]`` over the qualified-view
        rewrite.  Not through ``dataframe()``, where EXPLAIN is a command
        that would drop every cached entry.  Modes: simple | extended |
        codegen | cost | formatted."""
        keyword = "" if mode.lower() == "simple" else mode
        plan = self.spark.sql(f"EXPLAIN {keyword} {self._rewrite_qualified(sql)}")
        return self._fetch(plan, _call_tag(), False)[0].data[0][0]

    def temp_view(self, name: str) -> DataTable:
        """Read a registered view back out (reference:
        DirectSparkSession.scala:139-154); registered rows drain direct."""
        df = self._qualified_views.get(name.lower())
        with self._views.read():
            df = self.spark.table(name) if df is None else df
            return self._fetch(df, _call_tag(), _plan_facts(df).in_memory)[0]

    def _qualified_names(self) -> tuple[set[str], set[str]]:
        """The registered db-qualified view names, lower-cased, and the
        ``db__view`` names SQL reaches them by, which are no views of their own."""
        with self._lock:
            qualified = set(self._qualified_views)
        return qualified, {self._mangle(n) for n in qualified}

    def list_tables(self, pattern: str | None = None) -> list[str]:
        """All visible table/view names — Spark's catalog merged with the
        engine's db-qualified temp-view registry, optionally filtered by a
        ``*``-wildcard pattern (``'|'``-separated alternatives), matching
        the reference's listTables override
        (DirectSessionCatalog.scala:185-201, StringUtils.filterPattern)."""
        qualified, mangled = self._qualified_names()
        names = {t.name for t in self.spark.catalog.listTables()}
        names = qualified | {n for n in names if n.lower() not in mangled}
        if pattern is not None:
            regexes = [
                re.compile("(?i)^" + ".*".join(map(re.escape, p.split("*"))) + "$")
                for p in pattern.split("|")
            ]
            names = {n for n in names if any(r.match(n) for r in regexes)}
        return sorted(names)

    def is_temporary_table(self, name: str) -> bool:
        """Whether ``name`` resolves to a temporary view — Spark's own temp
        views plus the db-qualified registry, mirroring the reference's
        isTemporaryTable override (DirectSessionCatalog.scala:173-183); a
        mangled ``db__view`` name is hidden, as in :meth:`list_tables`."""
        qualified, mangled = self._qualified_names()
        if name.lower() in qualified | mangled:
            return name.lower() in qualified
        try:
            if "." in name:
                db, tbl = name.rsplit(".", 1)
                tables = self.spark.catalog.listTables(db)
                return any(t.name == tbl and t.isTemporary for t in tables)
            tables = self.spark.catalog.listTables()
            return any(t.name == name and t.isTemporary for t in tables)
        except Exception:  # unknown database -> not a temp view
            return False

    def temp_view_java(self, name: str) -> list[dict[str, Any]]:
        """The view's rows as a list of dicts — the reference's
        ``tempViewJava`` readout (DirectSparkSession.scala:156-179),
        which materialized a temp view as java List<Map<column, value>>."""
        return self.temp_view(name).to_list_of_dicts()

    # -- session management --------------------------------------------------

    def new_session(self) -> "Engine":
        """Isolated catalog + cache over the shared SparkContext
        (reference: DirectSparkSession.scala:81-86).  The child inherits
        the parent's cache sizing AND runtime toggles — an engine built
        with result caching disabled must not hand out children that
        silently re-enable it."""
        child = Engine(
            self.spark.newSession(),
            self._plan_cache.capacity,
            self._result_cache.capacity,
            result_cache_max_bytes=self._result_cache.max_bytes,
        )
        child.result_cache_enabled = self.result_cache_enabled
        return child

    def stop(self) -> None:
        """Remove this engine's registered row blocks, then stop Spark.

        Takes no view lock, so it also stops an engine whose ``sql_iterator``
        is still open: that iteration then fails, as any Spark job does on a
        stopped context."""
        try:
            if self._release_rows.detach() is not None:
                with self._lock:
                    views = list(self._row_views.values())
                    self._row_views.clear()
                for view in views:
                    view.remove()
        finally:
            self.spark.stop()
