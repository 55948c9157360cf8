"""Import-order regression tests (round 13).

The registry must be COMPLETE regardless of which package a user imports
first.  Before the fix, importing ``direct_spark_sql_spark.streaming``
as the very first package (exactly what ``tests/test_streaming.py`` does
when pytest collects only the streaming files) ran this cycle:

    streaming/__init__ -> streaming.pipelines -> plans.base
      -> plans/__init__ (eagerly built the registry)
      -> plans.streaming -> ``from direct_spark_sql_spark.streaming
         import read_events_stream``  (package mid-init!)
      -> ImportError, SILENTLY swallowed by the optional-module guard
      -> QUERIES truncated 313 -> 297 for the process lifetime.

Caught live: the round-13 streaming hostile-axis run failed with
``KeyError: 'streaming_tumbling_window'`` in test_streaming_rocksdb.
Fix: plans/__init__ re-exports lazily (PEP 562) so no registry build can
fire during another package's initialization, and the registry no longer
guards its imports: a failed module import fails the registry build.
These tests run the import in a fresh subprocess because the bug poisons
a process permanently.
"""

from __future__ import annotations

import subprocess
import sys

_PROBE = """
import direct_spark_sql_spark.streaming  # the cycle trigger: FIRST import
from direct_spark_sql_spark.plans.registry import QUERIES
streaming = [n for n in QUERIES if n.startswith("streaming_")]
assert len(streaming) >= 16, f"streaming queries missing: {len(streaming)}"
print(len(QUERIES))
"""


def test_registry_complete_when_streaming_imported_first():
    res = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    # a truncated registry must never masquerade as complete
    assert int(res.stdout.strip()) >= 313, res.stdout
    assert "MISSING from the registry" not in res.stderr


def test_registry_import_error_propagates():
    """A query module that fails to import must fail ``all_queries()``
    outright: a registry that silently drops a module once hid the
    313->297 truncation for a full hostile-axis run."""
    probe = """
import builtins, sys
real = builtins.__import__
def sabotage(name, *a, **k):
    if name == "direct_spark_sql_spark.plans.mlops" or (
        name == "direct_spark_sql_spark.plans" and a[2] and "mlops" in a[2]
    ):
        raise ImportError("planted")
    return real(name, *a, **k)
builtins.__import__ = sabotage
import traceback
try:
    # the registry module builds QUERIES through all_queries() on import
    from direct_spark_sql_spark.plans.registry import all_queries
    all_queries()
except ImportError as exc:
    frames = [f.name for f in traceback.extract_tb(exc.__traceback__)]
    print("raised", exc, "all_queries" in frames)
else:
    print("returned")
"""
    res = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "raised planted True", res.stdout


def test_extra_conf_separator_guard():
    """The hostile-axis conf hook must reject comma-joined pairs: Spark
    silently accepts the swallowed-pairs value and the run measures a
    different (and pathologically slow) config than its label claims."""
    import pytest

    from tests.conftest import parse_extra_conf

    ok = parse_extra_conf(
        "spark.sql.adaptive.enabled=false;"
        "spark.sql.optimizer.excludedRules=PushDownPredicates,ReorderJoin"
    )
    assert ok == [
        ("spark.sql.adaptive.enabled", "false"),
        (
            "spark.sql.optimizer.excludedRules",
            "PushDownPredicates,ReorderJoin",
        ),
    ]
    with pytest.raises(ValueError, match="swallowed pairs"):
        parse_extra_conf(
            "spark.sql.windowExec.buffer.in.memory.threshold=1,"
            "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold=1"
        )
