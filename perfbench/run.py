"""Benchmark for the engine's public API: facade and batch workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload facade_hot --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a traced run, writes its spans, and measures the
tracing overhead against an untraced window of the same engine.  The
last line of standard output is the result JSON; the line before it is
the full run record (host context, held state, every metric with its
unit).  Everything the run writes stays under ``perfbench/.work``.

Each run first launches the JVM with a bare Engine, timed into the run
record only, then sets up once on that JVM (Engine start on a fresh
SparkContext, input generation, registration, warm-up) and reports that
as ``setup_s``.  One setup keeps a run near 40 s; compare ``setup_s`` by
its median over many runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
#: the project's sf0.01 test tables (60k lineitem rows)
DATA_DIR = HERE / "data" / "sf0.01"

#: Spark task slots.  Two leave the rest of a four-core host to the JVM's
#: own threads, the Python workers and the client; on such a host local[2]
#: runs the refresh workload's cold calls about twice as fast as local[4]
#: and fits more of them in a run.
MAX_CPUS = 2

#: end-to-end metrics every workload reports with ``--trace 0``.  The run
#: record carries the rest.  On a shared four-core host, with CPU steal
#: between 1% and 8%, ten seeds spread (quartile distance over median)
#: facade_hot's calls_per_s and replay_p50_ms by 0.25-0.3, as each call
#: is a Spark job; peak RSS moves by up to a fifth with JVM heap growth.
GATED_END_TO_END = ("setup_s", "call_p50_ms")
#: per-layer metrics every workload reports with ``--trace 1``: those no
#: workload reads as zero and that are not whole-millisecond sums over a
#: handful of samples (Catalyst phases), which could repeat exactly
#: between runs.  The run record carries every per-layer metric.
GATED_PER_LAYER = (
    "exec.jobs",
    "exec.stages_run",
    "exec.stages_skipped",
    "exec.tasks",
    "exec.run_ms",
    "exec.cpu_ms",
)

LAYER_UNITS = {"ms": "ms", "bytes": "bytes", "rate": "ratio", "rows": "count"}


def unit_of(metric: str) -> str:
    suffix = metric.rsplit("_", 1)[-1]
    return LAYER_UNITS.get(suffix, "count")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(local_dir: Path) -> None:
    """Keep every file Spark and its Python workers write inside the
    checkout, and let the workers import the engine package."""
    tmp = WORK / "tmp"
    for d in (local_dir, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local_dir)
    os.environ["TMPDIR"] = str(tmp)
    # for the launcher and driver JVMs: temp files here, no /tmp/hsperfdata
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts))
    )
    paths = [str(ROOT), str(HERE)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [str(ROOT)]


def start_engine(cpus: int):
    from direct_spark_sql_spark.session import Engine

    engine = (
        Engine.builder()
        .master(f"local[{cpus}]")
        .app_name("perfbench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", False)
        .config("spark.ui.showConsoleProgress", False)
        .config("spark.driver.memory", "1g")
        .get_or_create()
    )
    engine.spark.sparkContext.setLogLevel("ERROR")
    return engine


def shutdown(engine) -> None:
    """Stop Spark, then the JVM it ran in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = engine.spark.sparkContext._gateway
    engine.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def measure_window(workload, engine, seconds: float) -> None:
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        try:
            workload.step(engine)
        except Exception:  # an operation that raised counts as failed
            traceback.print_exc(file=sys.stderr)
            from workloads import Op

            workload.ops.append(Op("error", 0.0, False))


def layer_metrics(workload, tracer, engine, stats0) -> dict[str, float]:
    """Every per-layer metric of one traced run: session cache rates over
    the measured window, the other layers over the measured Engine's setup
    and window."""
    from workloads import catalyst_layers, summarize_layers

    out = summarize_layers(workload.ops)
    out.update(catalyst_layers(workload))
    stats = engine.cache_stats()

    def rate(hits: str, misses: str) -> float:
        h = stats[hits] - stats0[hits]
        m = stats[misses] - stats0[misses]
        return h / (h + m) if h + m else 0.0

    def per_call(name: str) -> float:
        n = tracer.count(name)
        return tracer.total_ms(name) / n if n else 0.0

    out["session.plan_cache_hit_rate"] = rate("hits", "misses")
    out["session.result_cache_hit_rate"] = rate("result_hits", "result_misses")
    out["session.result_cache_bytes"] = stats["result_bytes"]
    out["session.dataframe_ms"] = per_call("session.dataframe")
    out["session.invalidate_ms"] = per_call("session.invalidate")
    out["plans.build_ms"] = per_call("plans.build")
    out["ingress.coerce_ms"] = per_call("ingress.coerce")
    out["ingress.create_df_ms"] = per_call("ingress.create_df")
    out["ingress.rows"] = tracer.mean_rows("ingress")
    out["egress.collect_ms"] = per_call("egress.collect")
    out["egress.to_dicts_ms"] = per_call("egress.to_dicts")
    out["egress.topandas_ms"] = per_call("egress.topandas")
    out["egress.rows"] = tracer.mean_rows("egress")
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "direct_spark_sql_spark" / "session.py").is_file():
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    local_dir = WORK / "spark-local" / str(os.getpid())
    prepare_environment(local_dir)

    from instrument import HostSampler, SparkProbe, Tracer, dir_bytes, peak_rss_mb
    from workloads import WORKLOADS, layers_by_kind

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    host = HostSampler()
    tracer = Tracer() if args.trace else None
    workload = WORKLOADS[args.workload](args.seed, str(DATA_DIR), tracer)

    engine = None
    try:
        t0 = time.perf_counter()
        engine = start_engine(cpus)
        jvm_launch_s = time.perf_counter() - t0
        engine.stop()
        if tracer is not None:
            tracer.install()  # the measured engine's setup is traced
        t0 = time.perf_counter()
        engine = start_engine(cpus)
        workload.setup(engine)
        setup_s = time.perf_counter() - t0
        workload.prepare_oracle()
        workload.attach(engine)
        probe = SparkProbe(engine.spark)
        stats0 = engine.cache_stats()
        measure_window(workload, engine, args.seconds)

        record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        e2e = {"setup_s": (setup_s, "s")}
        e2e.update(workload.generic_metrics())
        e2e.update(workload.end_to_end())
        ops = workload.ops
        failed = sum(1 for op in ops if not op.ok)
        e2e["error_rate"] = (failed / len(ops) if ops else 1.0, "ratio")
        record["call_tail"] = workload.tail()
        record["held_state"] = {
            "cache_stats": engine.cache_stats(),
            "block_manager_bytes": probe.storage_bytes(),
            "local_dir_bytes": dir_bytes(str(local_dir)),
        }
        if hasattr(workload, "per_query"):
            record["per_query"] = workload.per_query()
        if tracer is not None:
            layers = layer_metrics(workload, tracer, engine, stats0)
            layers["session.retained_shuffle_bytes"] = record["held_state"][
                "local_dir_bytes"
            ]
            record["layers"] = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
            record["layers_by_kind"] = layers_by_kind(workload)
            record["self_ms"] = tracer.self_ms_by_layer()
            spans = WORK / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
            tracer.dump(str(spans))
            record["span_file"] = str(spans.relative_to(ROOT))
            # tracing overhead: the same engine, measured again untraced
            tracer.uninstall()
            workload.trace = None
            workload.reset()
            measure_window(workload, engine, args.seconds / 2)
            untraced = workload.generic_metrics()
            record["tracing_overhead"] = {
                k: {"traced": e2e[k][0], "untraced": v, "difference": e2e[k][0] - v,
                    "unit": unit}
                for k, (v, unit) in untraced.items()
            }
            failed += sum(1 for op in workload.ops if not op.ok)
            ops = ops + workload.ops
        e2e["peak_rss_mb"] = (peak_rss_mb(probe.jvm_pid()), "MB")
        record["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        record["jvm_launch_s"] = jvm_launch_s
        record["host"] = host.report()
        record["attempted"] = len(ops)
    finally:
        workload.close()
        if engine is not None:
            shutdown(engine)
        shutil.rmtree(local_dir, ignore_errors=True)

    if tracer is not None:
        metrics = {k: record["layers"][k] for k in GATED_PER_LAYER}
    else:
        metrics = {k: record["end_to_end"][k] for k in GATED_END_TO_END}
    result = {
        "correct": failed == 0 and len(ops) > 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
