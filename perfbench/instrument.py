"""Measurement from outside the engine: spans around calls into each layer,
Spark's own status store and query trackers, held state, and host context.

Nothing here changes what the engine does.  ``Tracer.install`` wraps a few
public entry points of the engine's modules so each call records a span;
``SparkProbe`` reads what Spark already records (job tags, stage data,
Catalyst phase times, block-manager storage).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import resource
import time
from typing import Any

# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent span, call id.

    A span's layer is the part of its name before the first dot; a layer's
    self time is its spans' durations minus the time their child spans
    cover."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []
        self.call_id: int | None = None
        #: span name -> the value its most recent call returned
        self.last_result: dict[str, Any] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "call": self.call_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, owner: type, attr: str, name: str) -> None:
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
                if hasattr(result, "__len__"):
                    rec["rows"] = len(result)
            self.last_result[name] = result
            return result

        setattr(owner, attr, classmethod(traced) if is_cm else traced)
        self._patches.append((owner, attr, raw))

    def install(self) -> None:
        """Wrap the engine entry points that the engine itself calls
        internally; calls the benchmark makes directly get spans at the
        call site instead."""
        from direct_spark_sql_spark.datatable import DataTable
        from direct_spark_sql_spark.session import Engine

        self._wrap(Engine, "sql_directly", "session.sql_directly")
        self._wrap(Engine, "register_table", "session.register_table")
        self._wrap(Engine, "dataframe", "session.dataframe")
        self._wrap(Engine, "_drop_cached_plans_referencing", "session.invalidate")
        self._wrap(DataTable, "from_list_of_dicts", "ingress.coerce")
        self._wrap(DataTable, "to_dataframe", "ingress.create_df")
        self._wrap(DataTable, "from_dataframe", "egress.collect")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    def total_ms(self, name: str) -> float:
        return 1000.0 * sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def mean_rows(self, layer: str) -> float:
        rows = [
            s["rows"]
            for s in self.spans
            if "rows" in s and s["name"].startswith(layer + ".")
        ]
        return sum(rows) / len(rows) if rows else 0.0

    def self_ms_by_layer(self) -> dict[str, float]:
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            layer = s["name"].split(".", 1)[0]
            own = (s["end"] - s["start"]) - child_ms[i]
            out[layer] = out.get(layer, 0.0) + 1000.0 * own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


# -- Spark's own records --------------------------------------------------------

_PYTHON_EVAL = re.compile(
    r"\b(?:BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow"
    r"|AggregateInPandas|WindowInPandas|ArrowWindowPython)\b"
)

CATALYST_PHASES = ("parsing", "analysis", "optimization", "planning")

EXEC_KEYS = (
    "jobs",
    "stages_run",
    "stages_skipped",
    "tasks",
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "deserialize_ms",
    "shuffle_write_bytes",
    "shuffle_fetch_wait_ms",
    "input_bytes",
    "spill_bytes",
)


class SparkProbe:
    """Reads one SparkContext's status store, trackers and storage."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    @contextlib.contextmanager
    def tagged(self, tag: str):
        """Every job the block launches carries ``tag``."""
        self.sc.addJobTag(tag)
        try:
            yield
        finally:
            self.sc.removeJobTag(tag)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every queued event:
        the status store is filled asynchronously from it."""
        self._jsc.listenerBus().waitUntilEmpty()

    def exec_stats(self, tag: str) -> dict[str, int | float]:
        """Jobs, stages and task metrics of every job tagged ``tag``."""
        self.drain()
        store = self._jsc.statusStore()
        out: dict[str, int | float] = dict.fromkeys(EXEC_KEYS, 0)
        for job_id in self._jsc.statusTracker().getJobIdsForTag(tag):
            job = store.job(job_id)
            out["jobs"] += 1
            out["stages_skipped"] += job.numSkippedStages()
            ids = job.stageIds()
            for i in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages_run"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["deserialize_ms"] += st.executorDeserializeTime()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_fetch_wait_ms"] += st.shuffleFetchWaitTime()
                out["input_bytes"] += st.inputBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    @staticmethod
    def catalyst_ms(df) -> dict[str, int]:
        """Catalyst phase durations from the query's own tracker."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in CATALYST_PHASES:
            ph = phases.get(name)
            out[name] = int(ph.get().durationMs()) if ph.isDefined() else 0
        return out

    @staticmethod
    def python_eval_nodes(df) -> int:
        """Python-evaluation operators in the executed physical plan."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(_PYTHON_EVAL.findall(plan))

    def storage_bytes(self) -> int:
        """Bytes the block manager holds for persisted and checkpointed RDDs."""
        return sum(
            info.memSize() + info.diskSize() for info in self._jsc.getRDDStorageInfo()
        )

    def jvm_pid(self) -> int:
        return self.sc._gateway.proc.pid


# -- held state and host -------------------------------------------------------


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass  # a shuffle or temp file removed while walking
    return total


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of this Python process plus the JVM, in MB."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


class HostSampler:
    """CPU steal share and load average over a run."""

    def __init__(self) -> None:
        self._start = _cpu_times()

    def report(self) -> dict[str, Any]:
        end = _cpu_times()
        delta = [b - a for a, b in zip(self._start, end)]
        # user nice system idle iowait irq softirq steal [guest guest_nice]:
        # guest time is already counted inside user and nice
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "cpu_steal_share": round(delta[7] / sum(delta[:8]), 4),
            "loadavg": [round(v, 2) for v in os.getloadavg()],
        }
