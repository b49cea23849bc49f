"""The benchmark's command.

    python3 perfbench/run.py --workload {tool_calls,crawl_ingest}
                             --seed N --seconds S --trace {0,1}

One Python process, one client thread, a closed loop: the next operation
starts when the previous one returns. ``get_spark()`` keeps its defaults
(``local[*]``). The run

1. prepares the code version's data and artifacts once (``prepare.py``,
   in a child process, excluded from ``setup_s``);
2. sets up: session start, view registration or state restore, and a
   fixed warm-up (``setup_s`` is process start to first measured
   operation, minus step 1);
3. measures operations until ``--seconds`` have passed (``tool_calls``
   finishes the block it is in);
4. checks every output, outside the timed window;
5. prints one JSON line: end-to-end metrics untraced, per-layer metrics
   with ``--trace 1``. It exits 1 if a check failed.

The traced run records spans from the benchmark's own files (``tracing.py``)
and reads Spark's event log; its own end-to-end figures are reported as
``trace.*`` so the tracing overhead is their difference from an untraced
run of the same seed, which ``run.py`` also prints when one exists.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from common import (  # noqa: E402
    PACKAGE,
    ROOT,
    Recorder,
    RssSampler,
    isolate_environment,
    paths,
    percentile,
    stop_spark,
)

WORKLOADS = ("tool_calls", "crawl_ingest")
PREPARE_TIMEOUT_S = 800


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare(p) -> float:
    """Run ``prepare.py`` once per code version; returns its wall time."""
    if os.path.isfile(p.ready):
        return 0.0
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "prepare.py")],
        stdout=sys.stderr, timeout=PREPARE_TIMEOUT_S,
    )
    if proc.returncode != 0 or not os.path.isfile(p.ready):
        raise RuntimeError(f"prepare.py failed with exit code {proc.returncode}")
    return time.perf_counter() - t0


def end_to_end(ops, seconds_measured: float, setup_s: float) -> dict:
    lat = [op.ms for op in ops]
    units = sum(op.units for op in ops)
    return {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (units / seconds_measured, "1/s"),
        "latency_p50_ms": (percentile(lat, 50), "ms"),
    }


def main(argv=None) -> int:
    a = _args(argv)
    sys.path.insert(1, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"package {PACKAGE} not found next to perfbench/", file=sys.stderr)
        return 2
    p = paths()
    prepare_s = prepare(p)
    os.utime(p.state)  # marks this version as used; see prepare.prune_state

    run_dir = os.path.join(p.runs, f"{a.workload}-{os.getpid()}")
    events = os.path.join(run_dir, "events")
    if a.trace:
        os.makedirs(events, exist_ok=True)
    from tracing import Tracer, event_log_conf, layer_metrics, spark_metrics

    isolate_environment(p, event_log_conf(events) if a.trace else "")
    rec = Recorder()
    tracer = None
    if a.trace:
        tracer = rec.tracer = Tracer(rec)
        tracer.install()

    from ai_powered_data_pipeline_assistant_spark import session

    spark = None
    rss = RssSampler() if tracer is not None else contextlib.nullcontext()
    try:
        with rss:
            spark = session.get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            wl = _workload(a.workload, spark, p, a.seed, os.path.join(run_dir, "crawl"))
            if tracer is not None and a.workload == "tool_calls":
                tracer.trace_tools(wl.registry)
            wl.warmup(rec)
            t_first = time.perf_counter()
            setup_s = t_first - T_START - prepare_s
            rec.measuring = True
            wl.measure(rec, lambda: time.perf_counter() - t_first >= a.seconds)
            rec.measuring = False
            measured_s = time.perf_counter() - t_first
        with open(p.oracles) as fh:
            oracles = json.load(fh)
        errors = wl.check(oracles)
        for e in errors:
            print(f"CHECK FAILED [{a.workload}]: {e}", file=sys.stderr)
        extras = wl.extras()
    finally:
        if spark is not None:
            stop_spark(spark)

    ops = rec.ops
    e2e = end_to_end(ops, measured_s, setup_s)
    if tracer is not None:
        layers = dict.fromkeys(_LAYER_UNITS, 0.0)
        layers.update(layer_metrics(tracer, ops))
        layers.update(spark_metrics(events, ops))
        shutil.rmtree(events)
        layers.update(extras)
        layers["process.peak_rss_mb"] = rss.peak / 2**20
        layers["trace.latency_p50_ms"] = e2e["latency_p50_ms"][0]
        layers["trace.throughput_per_s"] = e2e["throughput_per_s"][0]
        tracer.write(os.path.join(run_dir, "spans.jsonl"))
        metrics = {k: (v, _LAYER_UNITS[k]) for k, v in layers.items()}
    else:
        metrics = e2e
    _record(p, a, e2e)
    if not a.trace:
        shutil.rmtree(run_dir, ignore_errors=True)
    else:
        shutil.rmtree(os.path.join(run_dir, "crawl"), ignore_errors=True)
    result = {
        "correct": not errors,
        "attempted": len(ops),
        "failed": len(set(wl.failed_idx)),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    # too few samples for a bounded tail metric (see BENCHMARK.json); p90
    # is printed for information only
    print(f"{a.workload}: {len(ops)} operations in {measured_s:.2f} s "
          f"(p90 {percentile([op.ms for op in ops], 90):.1f} ms), "
          f"setup {setup_s:.2f} s, prepare {prepare_s:.2f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0 if not errors else 1


def _workload(name, spark, p, seed, crawl_dir):
    if name == "tool_calls":
        from tool_calls import ToolCalls

        return ToolCalls(spark, p, seed)
    from crawl_ingest import CrawlIngest

    return CrawlIngest(spark, p, seed, crawl_dir)


def _record(p, a, e2e) -> None:
    """Keep each run's figures beside the state; a traced run reports its
    overhead against an untraced run of the same workload and seed."""
    os.makedirs(p.runs, exist_ok=True)
    path = os.path.join(p.runs, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as fh:
        json.dump({k: v for k, (v, _u) in e2e.items()}, fh)
    other = os.path.join(p.runs, f"{a.workload}-seed{a.seed}-trace0.json")
    if a.trace and os.path.isfile(other):
        with open(other) as fh:
            base = json.load(fh)
        for k, (v, _u) in e2e.items():
            print(f"tracing overhead {k}: {v - base[k]:+.4f} "
                  f"({(v - base[k]) / base[k]:+.1%})", file=sys.stderr)


_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "catalog.load_table.calls": "1/op",
    "catalog.load_table.ms": "ms/op",
    "api.tools.execute.self_ms": "ms/op",
    "api.tools.refused": "1/op",
    "functions.caching.hit_ratio": "ratio",
    "plans.sql_gate.safe_sql.ms": "ms/op",
    "plans.sql_gate.rejected": "1/op",
    "operators.plan_ms": "ms/op",
    "operators.action_ms": "ms/op",
    "execution.materialize.calls": "1/op",
    "execution.run_concurrently.ms": "ms/op",
    "streaming.neardup.process_neardup_batch.ms": "ms/op",
    "streaming.neardup.dup_ratio": "ratio",
    "sources.layout.append_ivfpq_layout.ms": "ms/op",
    "streaming.jobs.idempotent_append.calls": "1/op",
    "streaming.jobs.idempotent_append.ms": "ms/op",
    "streaming.crawl_pipeline.self_ms": "ms/op",
    "streaming.crawl_pipeline.state_bytes_per_doc": "B/doc",
    "spark.jobs_per_op": "1/op",
    "spark.stages_per_op": "1/op",
    "spark.tasks_per_op": "1/op",
    "spark.driver_gap_ms": "ms",
    "spark.executor_cpu_ms": "ms/op",
    "spark.shuffle_read_bytes": "B/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.python_bytes_sent": "B/op",
    "spark.failed_tasks": "count",
    "process.peak_rss_mb": "MB",
    "trace.latency_p50_ms": "ms",
    "trace.throughput_per_s": "1/s",
}


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
