"""Direct execution: every facade result fetched in one helper call.

The reference evaluates its physical plan as an iterator on the caller's
thread, "without RDDs, without the DAG scheduler" (DirectPlan.scala:79-83),
limits and top-k included (directLimit.scala:26-64).  Here the Java helper
``org.dss.direct.DirectExec`` (built by ``functions.jvm.ensure_udf_jar``)
fetches every result the Engine returns in one py4j round trip,
``DirectExec.fetch(ds, tag, direct)``.  With ``direct`` set (every leaf is
in memory, ``_PlanFacts.in_memory``), a plan with no shuffle and no Python
node whose final RDD is one partition, such as any plan over a one-slice
registered view, a ``LIMIT`` or top-k included, is drained on the calling
thread without a job.  Any other plan runs as Spark's own action would,
under a new SQL execution id.  Every branch tags its jobs with the call's
tag and returns the same Arrow frames, inline up to 64 KiB, else on a
local socket (py4j decodes a ``byte[]`` a Python step per byte); a flags
byte says whether the drain was direct and whether a job was launched.
docs/ARCHITECTURE.md §1 (direct mode) has the gate and the job branch.
Without a JDK the helper cannot be built: ``DataTable.from_dataframe``
collects instead.

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
from pyspark.sql.pandas.types import _deduplicate_field_names, to_arrow_schema
from pyspark.util import _load_from_socket

HELPER_CLASS = "org.dss.direct.DirectExec"


def load_helper(spark: SparkSession):
    """One ``DirectExec`` instance for ``spark``'s JVM, loaded through the
    session's jar class loader (``ADD JAR`` would also ship the jar to
    executors, and its class is visible only on the thread that ran it);
    None, with a warning, when the jar cannot be built, which leaves every
    fetch to ``DataTable.from_dataframe``."""
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
_LAUNCHED_JOBS, _LARGE_VAR_TYPES, _ON_SOCKET, _DIRECT = 1, 2, 4, 8


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
    """The schema a result of ``df`` is cast to: ``toArrow()``'s, with the
    names of a struct that repeats a field name de-duplicated as the JVM
    encodes them; memoized on ``df`` per ``arrowUseLargeVarTypes`` value,
    since the schema is its plan's.  Raises ``PySparkTypeError`` for a type
    Arrow does not carry to Python (a YEAR-MONTH or calendar INTERVAL)."""
    memo = df.__dict__.setdefault("_dss_arrow_schemas", {})
    schema = memo.get(large_types)
    if schema is None:
        schema = memo[large_types] = to_arrow_schema(
            _deduplicate_field_names(df.schema), prefers_large_types=large_types
        )
    return schema


class DirectFetch:
    """One fetch of a DataFrame's result through the helper.

    Called with the DataFrame, a job tag and whether the plan may drain
    direct (its leaves are all in memory), it returns the result's Arrow
    table, cast to ``_arrow_schema``.  Any job the fetch launches carries
    the tag.  Afterwards ``ran`` says whether the fetch was drained on the
    calling thread, and ``launched_jobs`` whether any Spark job was
    submitted meanwhile (False means this call certainly ran none)."""

    __slots__ = ("_helper", "ran", "launched_jobs")

    def __init__(self, helper) -> None:
        self._helper = helper

    def __call__(self, df: DataFrame, tag: str, direct: bool) -> pa.Table:
        _arrow_schema(df, False)  # an unsupported type raises before any job
        payload = self._helper.fetch(df._jdf, tag, direct)
        flags = payload[0]
        if flags & _ON_SOCKET:
            conn, secret = payload[1:].decode().split(" ")
            sock_info = (int(conn) if conn.isdigit() else conn, secret)
            frames = list(_load_from_socket(sock_info, NoOpSerializer()))
        else:
            frames = _frames(payload)
        if len(frames) < 2 or len(frames.pop()) != 0:  # the schema, the end marker
            raise ConnectionError("the result ended early")
        self.ran, self.launched_jobs = bool(flags & _DIRECT), bool(flags & _LAUNCHED_JOBS)
        encoded = pa.ipc.read_schema(pa.py_buffer(frames[0]))
        batches = [pa.ipc.read_record_batch(f, encoded) for f in frames[1:]]
        table = pa.Table.from_batches(batches, schema=encoded)
        return table.cast(_arrow_schema(df, bool(flags & _LARGE_VAR_TYPES)))
