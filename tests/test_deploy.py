"""Cluster-conf derivation invariants (deploy.py).

These are pure-python property checks — no SparkSession — plus one
round-trip that applies the local profile to a real builder.  The point
is that the derived conf stays SANE across the whole input space: a
weird cluster shape must degrade to a clamped, safe conf, never an
absurd one (0 partitions, broadcast bigger than the heap, ...).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from direct_spark_sql_spark.deploy import (
    cluster_conf,
    derive_broadcast_threshold_mb,
    derive_shuffle_partitions,
)
from direct_spark_sql_spark.session import ENGINE_CONF


def test_reference_scale_happy_path():
    """The headline shape: 100 TB on 1000 executors x 8 cores."""
    conf = cluster_conf(
        dataset_tb=100, executors=1000, cores_per_executor=8, executor_mem_gb=64
    )
    parts = int(conf["spark.sql.shuffle.partitions"])
    # 100 TB / 128 MB is ~800k raw — must clamp at the scheduler ceiling
    assert parts == 200_000
    # broadcast: 5% of 64 GB is over the cap -> 256 MB
    assert int(conf["spark.sql.autoBroadcastJoinThreshold"]) == 256 * 1024**2
    # semantic preset carried over verbatim
    for k, v in ENGINE_CONF.items():
        assert conf[k] == v
    assert conf["spark.dynamicAllocation.maxExecutors"] == "1000"
    assert conf["spark.executor.cores"] == "8"


def test_small_cluster_small_data():
    conf = cluster_conf(
        dataset_tb=0.001, executors=2, cores_per_executor=2, executor_mem_gb=4
    )
    # tiny data: the 2-tasks-per-core floor and the global minimum rule
    assert int(conf["spark.sql.shuffle.partitions"]) == 64
    # 5% of 4 GB = 204 MB -> under the cap, over the floor
    assert (
        int(conf["spark.sql.autoBroadcastJoinThreshold"]) == 204 * 1024 * 1024
    )
    # overhead floored at 1 GiB even for a small heap
    assert conf["spark.executor.memoryOverhead"] == "1024m"


def test_dynamic_allocation_toggle():
    on = cluster_conf(1, 10, dynamic_allocation=True)
    off = cluster_conf(1, 10, dynamic_allocation=False)
    assert on["spark.dynamicAllocation.enabled"] == "true"
    assert "spark.dynamicAllocation.enabled" not in off


def test_single_executor_min_clamped():
    """min > max is a fatal ExecutorAllocationManager.validateSettings
    error — a 1-executor cluster must clamp the floor."""
    conf = cluster_conf(1, executors=1)
    assert int(conf["spark.dynamicAllocation.minExecutors"]) <= int(
        conf["spark.dynamicAllocation.maxExecutors"]
    )


def test_fractional_executor_memory_not_truncated():
    """int(gb)+'g' would emit a fatal '0g' for sub-1-GB heaps and
    silently halve 1.9 GB; megabyte units keep the requested size."""
    assert (
        cluster_conf(1, 10, executor_mem_gb=0.5)["spark.executor.memory"]
        == "512m"
    )
    assert (
        cluster_conf(1, 10, executor_mem_gb=1.9)["spark.executor.memory"]
        == f"{int(1.9 * 1024)}m"
    )


@pytest.mark.parametrize("bad", [0, -1])
def test_rejects_nonpositive_inputs(bad):
    with pytest.raises(ValueError):
        cluster_conf(dataset_tb=bad, executors=10)
    with pytest.raises(ValueError):
        cluster_conf(dataset_tb=1, executors=bad)
    with pytest.raises(ValueError):
        cluster_conf(dataset_tb=1, executors=10, executor_mem_gb=bad)


@given(
    tb=st.floats(min_value=1e-6, max_value=10_000, allow_nan=False),
    cores=st.integers(min_value=1, max_value=1_000_000),
)
@settings(max_examples=200, deadline=None)
def test_shuffle_partitions_always_in_range_and_monotone(tb, cores):
    p = derive_shuffle_partitions(tb, cores)
    assert 64 <= p <= 200_000
    # more data never DECREASES the partition count (monotone in data)
    assert derive_shuffle_partitions(tb * 2, cores) >= p
    # more cores never decreases it either (monotone in cores)
    assert derive_shuffle_partitions(tb, cores * 2) >= p


@given(mem=st.floats(min_value=0.1, max_value=10_000, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_broadcast_threshold_bounded_by_heap_fraction(mem):
    mb = derive_broadcast_threshold_mb(mem)
    assert 10 <= mb <= 256
    # never more than ~5% of the heap once above the 10 MB floor
    assert mb <= max(10, mem * 1024 * 0.05 + 1)


@given(
    tb=st.floats(min_value=1e-3, max_value=1_000, allow_nan=False),
    ex=st.integers(min_value=1, max_value=10_000),
    cpe=st.integers(min_value=1, max_value=128),
    mem=st.floats(min_value=1, max_value=1024, allow_nan=False),
)
@settings(max_examples=100, deadline=None)
def test_cluster_conf_values_are_all_strings_and_parseable(tb, ex, cpe, mem):
    conf = cluster_conf(tb, ex, cpe, mem)
    assert all(isinstance(v, str) for v in conf.values())
    # numeric knobs must parse (a non-numeric value would fail at submit)
    for key in (
        "spark.sql.shuffle.partitions",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.files.maxPartitionBytes",
        "spark.default.parallelism",
    ):
        assert int(conf[key]) > 0


def test_semantic_preset_holds_on_live_session(spark):
    """The semantic preset the cluster profile embeds is the one the live
    test session actually runs under (EngineBuilder applies ENGINE_CONF
    itself — deploy.py embeds the same dict, so local and cluster runs
    plan identically).  Keys overridden by the robustness-matrix axis
    (SPARK_GRAFT_TEST_EXTRA_CONF) are excluded: the axis intentionally
    perturbs them."""
    import os

    extra = os.environ.get("SPARK_GRAFT_TEST_EXTRA_CONF", "")
    overridden = {
        p.partition("=")[0].strip() for p in extra.split(";") if p.strip()
    }
    cluster = cluster_conf(1, 10)
    for k, v in ENGINE_CONF.items():
        assert cluster[k] == v
        if k not in overridden:
            assert spark.conf.get(k) == v


def test_ship_package_zips_importable_source(spark, tmp_path, monkeypatch):
    """deploy.ship_package (r13): on a non-local master, executor Python
    workers can't import this package (12/313 queries died with
    ModuleNotFoundError on the local-cluster differential) — the shipped
    zip must contain the package's modules at the right archive paths
    and be registered with addPyFile."""
    import sys
    import zipfile

    from direct_spark_sql_spark import deploy

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    # tempfile caches gettempdir; force re-read
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", None)
    added = []

    class FakeSC:
        def addPyFile(self, path):
            added.append(path)

    class FakeSpark:
        sparkContext = FakeSC()

    zip_path = deploy.ship_package(FakeSpark())
    assert zip_path and added == [zip_path]
    with zipfile.ZipFile(zip_path) as zf:
        names = set(zf.namelist())
    # package modules live under the package dir in the archive, so the
    # executor's sys.path entry (the zip root) resolves the import
    assert "direct_spark_sql_spark/__init__.py" in names
    assert "direct_spark_sql_spark/session.py" in names
    assert "direct_spark_sql_spark/operators/multimodal.py" in names
    assert not any(n.endswith(".pyc") for n in names)
    # idempotent: second call reuses the cached zip (mtime-keyed)
    assert deploy.ship_package(FakeSpark()) == zip_path


def test_get_or_create_warns_when_shipping_fails(spark, monkeypatch):
    """A failed ship_package on a non-local master must not be silent:
    the builder warns with the exception and still returns an Engine (a
    cluster with the package pre-installed needs no shipping)."""
    from pyspark.sql import SparkSession

    from direct_spark_sql_spark import deploy
    from direct_spark_sql_spark.session import Engine

    def boom(_spark):
        raise OSError("no writable temp dir")

    monkeypatch.setattr(deploy, "ship_package", boom)
    # hand back the running session untouched (re-applying the builder's
    # conf would undo a robustness-axis override) and make it look remote
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: spark)
    monkeypatch.setattr(spark.sparkContext, "master", "spark://cluster:7077")
    with pytest.warns(RuntimeWarning, match="OSError: no writable temp dir"):
        engine = Engine.builder().get_or_create()
    assert isinstance(engine, Engine)
