"""Tests of the benchmark itself: seeded inputs, span arithmetic, what the
gated figures are computed over, status-store completeness after draining
the listener bus, and failing without the engine.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import itertools
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import datagen  # noqa: E402
from instrument import SparkProbe, Tracer  # noqa: E402
from workloads import BatchHeadline, FacadeRefresh, Op, hot_sequence  # noqa: E402


def _inputs(seed: int):
    rng = np.random.default_rng(seed)
    return (
        datagen.sales_rows(rng, 300),
        datagen.refresh_rows(np.random.default_rng(seed), 300, 0),
        list(itertools.islice(hot_sequence(seed), 200)),
        _batch_orders(seed),
    )


def _batch_orders(seed: int) -> list[list[str]]:
    w = BatchHeadline(seed, "unused")
    return [[q.name for q in w.next_order()] for _ in range(4)]


def test_same_seed_same_inputs_and_other_seed_other_inputs():
    first, again, other = _inputs(7), _inputs(7), _inputs(8)
    assert first == again
    for a, b in zip(first, other):
        assert a != b


def test_hot_sequence_fixes_the_hit_replay_mix_per_block():
    seq = list(itertools.islice(hot_sequence(3), 400))
    for i in range(0, len(seq), 4):
        kinds = [kind for kind, _ in seq[i : i + 4]]
        assert kinds.count("parquet") == 1


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("session.sql_directly"):
        sum(range(10_000))
        with tr.span("egress.collect"):
            sum(range(10_000))
    outer, inner = tr.spans
    assert inner["parent"] == 0

    def ms(span):
        return 1000.0 * (span["end"] - span["start"])

    own = tr.self_ms_by_layer()
    assert own["session"] == pytest.approx(ms(outer) - ms(inner))
    assert own["egress"] == pytest.approx(ms(inner))


def test_facade_gated_figures_count_only_sql_directly_calls():
    w = FacadeRefresh(1, "unused")
    w.ops = [
        Op("refresh", 500.0, True),
        Op("cold", 10.0, True, call_ms=10.0),
        Op("cold", 30.0, True, call_ms=30.0),
        Op("large", 900.0, True, call_ms=20.0),  # the rest is to_list_of_dicts
    ]
    m = w.generic_metrics()
    assert m["call_p50_ms"][0] == 20.0
    assert m["calls_per_s"][0] == pytest.approx(3 / 0.060)


def test_batch_gated_figures_are_whole_passes():
    w = BatchHeadline(1, "unused")
    w.pass_ms = [100.0, 300.0, 200.0]
    w.ops = [Op(q.name, 1.0, True) for q in w.queries]
    m = w.generic_metrics()
    assert m["call_p50_ms"][0] == 200.0
    assert m["calls_per_s"][0] == pytest.approx(3 / 0.6)
    w.reset()
    assert w.ops == [] and w.call_samples() == []


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield session
    session.stop()


def _stage_counts_complete(probe: SparkProbe, tag: str) -> bool:
    """Every stage of every job tagged ``tag`` has a final state in the
    status store (COMPLETE, SKIPPED or FAILED)."""
    jsc = probe.sc._jsc.sc()
    store = jsc.statusStore()
    for job_id in jsc.statusTracker().getJobIdsForTag(tag):
        job = store.job(job_id)
        done = job.numCompletedStages() + job.numSkippedStages() + job.numFailedStages()
        if done != job.stageIds().size():
            return False
    return True


def test_drained_stage_counts_are_complete_for_a_tagged_call(spark):
    from pyspark.sql import functions as F

    probe = SparkProbe(spark)
    df = (
        spark.range(0, 20_000, 1, 4)
        .selectExpr("id % 50 AS k", "id AS v")
        .groupBy("k")
        .sum("v")
        .join(spark.range(50).withColumnRenamed("id", "k"), "k")
        .groupBy((F.col("k") % 3).alias("g"))
        .count()
    )
    for rep in range(2):  # first run, then a replay that skips stages
        tag = f"drain-test-{rep}"
        with probe.tagged(tag):
            df.collect()
        stats = probe.exec_stats(tag)  # drains the listener bus first
        assert _stage_counts_complete(probe, tag)
        assert stats["jobs"] >= 1 and stats["stages_run"] >= 1
        assert stats["tasks"] >= stats["stages_run"]
    assert stats["stages_skipped"] >= 1  # the replay reuses shuffle output


def test_fails_without_the_engine(tmp_path):
    root = HERE.parent
    shutil.copy(root / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "facade_hot",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
