"""Direct execution: a facade result fetched on the calling thread.

The reference evaluates its physical plan as an iterator on the caller's
thread, "without RDDs, without the DAG scheduler" (DirectPlan.scala:79-83).
Here ``sql_directly`` does the same for the plans where a Spark job buys
nothing: every leaf in memory (``_PlanFacts.in_memory``), a result that
``toArrow()`` fetches, no shuffle exchange, no Python-evaluation node, and
one partition in the final RDD.  ``register_table`` binds inputs under 100k
rows as a one-slice ``LogicalRDD`` with ``SinglePartition`` over a
``BlockRDD``, whose one partition is a block of the driver's
``BlockManager``; it has no dependencies, so its lineage passes, and the
drain reads the block the name holds when it runs, also after a
re-registration swapped the rows in place.  The Java
helper ``org.dss.direct.DirectExec`` (compiled by
``functions.jvm.ensure_udf_jar``) executes the plan, drains that
partition under a private ``TaskContext`` and returns the Arrow batches,
all in one py4j round trip (``DirectExec.fetch``): it tags the jobs the
call launches with the call's job tag on the calling JVM thread, and
returns the batches inline when they total at most 64 KiB, else serves
them on a local socket, as ``toArrow()`` does (py4j's ``byte[]`` decoding
costs a Python step per byte).  The result enters the same ``DataTable``
as ``toArrow()``'s.  Whether a result comes from ``collect()`` and its
Arrow schema are memoized on the DataFrame, so a cached plan's replay
makes that one round trip and no other.  Every other plan runs as a
Spark job, as before.

What a direct call does not have:

- a job of its own: a broadcast build or a scalar subquery inside
  ``execute()`` still launches one, and ``last_metrics()`` counts only those;
- cancellation: ``SparkContext.cancelJobsWithTag`` stops the jobs it
  launched, not the drain, which runs to completion or error;
- a slot: it runs on the caller's thread whatever the master's core count,
  so N concurrent callers run N plans at once.
"""

from __future__ import annotations

import warnings

import pyarrow as pa
from pyspark.serializers import NoOpSerializer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.util import _load_from_socket

from direct_spark_sql_spark.datatable import _fetches_rows

HELPER_CLASS = "org.dss.direct.DirectExec"


def load_helper(spark: SparkSession):
    """One ``DirectExec`` instance for ``spark``'s JVM, loaded through the
    session's jar class loader (``ADD JAR`` would also ship the jar to
    executors, and its class is visible only on the thread that ran it);
    None, with a warning, when the jar cannot be built, which leaves every
    fetch on the job path."""
    from direct_spark_sql_spark.functions.jvm import ensure_udf_jar

    try:
        jar = ensure_udf_jar()
    except Exception as e:  # no JDK, or sources that do not compile
        warnings.warn(
            f"direct execution is off: cannot build its helper jar "
            f"({type(e).__name__}: {e})",
            RuntimeWarning,
            stacklevel=3,
        )
        return None
    jvm = spark.sparkContext._jvm
    loader = spark._jsparkSession.sharedState().jarClassLoader()
    loader.addURL(jvm.java.io.File(jar).toURI().toURL())
    return jvm.java.lang.Class.forName(HELPER_CLASS, True, loader).newInstance()


#: Bits of the flags byte that leads a ``DirectExec.fetch`` payload.
_LAUNCHED_JOBS, _LARGE_VAR_TYPES, _ON_SOCKET = 1, 2, 4


def _frames(payload: bytearray) -> list[memoryview]:
    """The length-prefixed frames after the flags byte of an inline payload;
    the list stops at a frame the payload cuts short."""
    view, pos, frames = memoryview(payload), 1, []
    while pos + 4 <= len(view):
        end = pos + 4 + int.from_bytes(view[pos : pos + 4], "big")
        if end > len(view):
            break
        frames.append(view[pos + 4 : end])
        pos = end
    return frames


def _arrow_schema(df: DataFrame, large_types: bool) -> pa.Schema:
    """The schema ``toArrow()`` casts ``df``'s result to; memoized on ``df``
    per ``arrowUseLargeVarTypes`` value, since the schema is its plan's."""
    memo = df.__dict__.setdefault("_dss_arrow_schemas", {})
    schema = memo.get(large_types)
    if schema is None:
        schema = memo[large_types] = to_arrow_schema(
            df.schema,
            error_on_duplicated_field_names_in_struct=True,
            prefers_large_types=large_types,
        )
    return schema


class DirectFetch:
    """One attempt to fetch a DataFrame's result on the calling thread.

    Called with the DataFrame and a job tag, it returns the result's Arrow
    table, cast to the schema ``toArrow()`` casts to, or None when the
    result comes from ``collect()`` (``_fetches_rows``) or the plan must
    run as a job.  Any job the attempt launches carries the tag.
    Afterwards ``ran`` says whether the fetch was direct, and
    ``launched_jobs`` whether any Spark job was submitted meanwhile (False
    means this call certainly ran none)."""

    __slots__ = ("_helper", "ran", "launched_jobs")

    def __init__(self, helper) -> None:
        self._helper = helper
        self.ran = False
        self.launched_jobs = False

    def __call__(self, df: DataFrame, tag: str) -> pa.Table | None:
        if _fetches_rows(df):
            return None
        payload = self._helper.fetch(df._jdf, tag)
        if payload is None:
            return None
        flags = payload[0]
        if flags & _ON_SOCKET:
            conn, secret = payload[1:].decode().split(" ")
            sock_info = (int(conn) if conn.isdigit() else conn, secret)
            frames = list(_load_from_socket(sock_info, NoOpSerializer()))
        else:
            frames = _frames(payload)
        if not frames or len(frames.pop()) != 0:  # the end marker
            raise ConnectionError("the direct result ended early")
        self.ran, self.launched_jobs = True, bool(flags & _LAUNCHED_JOBS)
        schema = _arrow_schema(df, bool(flags & _LARGE_VAR_TYPES))
        # each frame is one IPC stream: the schema, then one batch
        batches = [b for frame in frames for b in pa.ipc.open_stream(frame)]
        table = pa.Table.from_batches(batches) if batches else schema.empty_table()
        return table.cast(schema)
