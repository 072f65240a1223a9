"""Benchmark of the document-extraction engine.

    python3 perfbench/run.py --workload extract|search|curate --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, from a traced run that
also reports tracing overhead against an untraced loop in the same
process.  The line before it is the run context.  Exit status: 0 when
every output check passes, 1 when one fails, 2 when the checkout cannot
run the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("extract", "search", "curate")
#: Layers whose self time the traced run reports.
SELF_TIME_LAYERS = (
    "bench", "operators.extract", "plans.partitioning", "plans.resume", "operators.search",
    "functions.columns", "operators.similarity", "plans.curate", "operators.curation",
    "operators.text", "operators.dedup",
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def bootstrap() -> dict:
    """Make the checkout's package importable here and on the Python
    workers, keep every scratch file inside the checkout, and read the
    metric list."""
    if not os.path.isdir(os.path.join(ROOT, "document_parser_spark")):
        print(f"perfbench: no document_parser_spark package under {ROOT}", file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    tmp = os.path.join(ROOT, ".perfbench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (its launcher included) keeps its
    # temporary files here and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[0] = ROOT
    return spec


def end_to_end(loop, setup_times, rss) -> dict[str, float]:
    from perfbench.harness import median

    return {
        "setup_s": median(setup_times),
        "throughput_per_s": loop.items / loop.busy_s,
        "op_p50_ms": median(loop.latencies_ms),
        "worker_peak_rss_mb": rss["python_workers"],
    }


def traced_loops(bench, wl, tracer, seconds):
    """The loop once untraced, then once with spans and plan metrics on.
    Returns both loops and the SQL metrics of the traced one."""
    from perfbench import harness
    from perfbench.planmetrics import ActionRecorder
    from perfbench.trace import NullTracer

    bench.tracer = NullTracer()
    untraced = harness.measure(bench, wl, seconds, "untraced")
    bench.tracer = tracer
    bench.recorder = ActionRecorder(bench.spark)
    since = bench.recorder.next_accumulator_id()
    tracer.instrument(*wl.layers)
    try:
        traced = harness.measure(bench, wl, seconds, "traced")
    finally:
        tracer.restore()
    bench.recorder.metrics(since)
    loop_metrics = [m for m in bench.recorder.seen.values() if m.acc_id > since]
    return untraced, traced, loop_metrics


def curate_companion(bench, tracer) -> tuple[dict[str, float], list[str]]:
    """One traced ``curate`` pass inside the ``extract`` traced run, so the
    curation and dedup layers are measured by the workloads the benchmark
    gates.  Reports those layers' metrics and self time."""
    from perfbench.curate import Curate

    companion = Curate(bench)
    companion.setup("companion")
    companion.warmup()
    tracer.request = "companion-0"
    tracer.instrument(*companion.layers)
    try:
        companion.op(0)
    finally:
        tracer.restore()
        tracer.request = None
    companion.after_op(0)
    values = companion.layer_metrics()
    self_ms = tracer.self_ms_by_layer({"companion-0"})
    for layer in ("plans.curate", "operators.curation", "operators.text", "operators.dedup"):
        values[f"self_ms.{layer}"] = self_ms.get(layer, 0.0)
    problems, _ = companion.verify()
    return values, problems


def per_layer(bench, wl, untraced, traced, loop_metrics) -> dict[str, float]:
    from perfbench import kernel_probe, planmetrics
    from perfbench.harness import median

    tr = bench.tracer
    n_ops = len(traced.latencies_ms)
    out = {
        "session.start_ms": median(tr.durations_ms("get_spark", layer="sources.session")),
        "data.stage_ms": median(tr.durations_ms("stage")),
        "warmup_ms": median(tr.durations_ms("warmup")),
        "trace.overhead_pct": 100.0 * (median(traced.latencies_ms) / median(untraced.latencies_ms) - 1.0),
        "spark.shuffle_bytes": planmetrics.total(loop_metrics, "shuffleBytesWritten") / n_ops,
        "spark.spill_bytes": planmetrics.total(loop_metrics, "spillSize") / n_ops,
        "spark.python_total_ms": planmetrics.total(loop_metrics, "pythonTotalTime", timing=True) / n_ops,
        "spark.codegen_pipeline_ms": planmetrics.total(loop_metrics, "pipelineTime", timing=True) / n_ops,
    }
    self_ms = tr.self_ms_by_layer({f"traced-{i}" for i in range(n_ops)})
    for layer in SELF_TIME_LAYERS:
        out[f"self_ms.{layer}"] = self_ms.get(layer, 0.0) / n_ops
    out.update(wl.layer_metrics())
    out.update(kernel_probe.probe(bench.seed))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = bootstrap()
    load_before = os.getloadavg()

    from perfbench import harness
    from perfbench.curate import Curate
    from perfbench.extract import Extract
    from perfbench.search import Search
    from perfbench.trace import NullTracer, Tracer

    workloads = {"extract": Extract, "search": Search, "curate": Curate}
    tracer = Tracer() if args.trace else NullTracer()
    bench = harness.Bench(ROOT, args.workload, args.seed, args.seconds, tracer)
    try:
        wl = workloads[args.workload](bench)
        setup_times = harness.run_setups(bench, wl, T_START)
        phases = {"setups_end": time.perf_counter() - T_START}
        wl.prepare()
        if args.trace:
            untraced, loop, loop_metrics = traced_loops(bench, wl, tracer, args.seconds)
        else:
            loop = harness.measure(bench, wl, args.seconds, "timed")
        phases["loop_end"] = time.perf_counter() - T_START
        problems, info = wl.verify()
        rss = harness.peak_rss_mb()
        if args.trace:
            values = per_layer(bench, wl, untraced, loop, loop_metrics)
            if args.workload == "extract":
                extra, extra_problems = curate_companion(bench, tracer)
                values.update(extra)
                problems += extra_problems
            tracer.dump(harness.results_path(bench, "trace"))
            names = spec["per_layer"]
        else:
            values = end_to_end(loop, setup_times, rss)
            names = spec["end_to_end"]
        phases["end"] = time.perf_counter() - T_START
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
        context = harness.run_context(bench, "traced" if args.trace else "untraced", load_before)
        context.update(
            ops=len(loop.latencies_ms),
            latencies_ms=[round(v, 1) for v in loop.latencies_ms],
            op_p90_ms=harness.quantile(loop.latencies_ms, 0.9),
            setup_times_s=setup_times,
            peak_rss_mb=rss,
            phases_s=phases,
            checks=info,
            problems=problems,
        )
        result = {
            "correct": not problems,
            "attempted": max(loop.attempted, 1),
            "failed": loop.failed + wl.failed_items(),
            "metrics": metrics,
        }
        with open(harness.results_path(bench, context["run_kind"]), "w") as fh:
            json.dump({"context": context, "result": result, "values": values}, fh, indent=1)
    finally:
        bench.close()
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"context": context}, sort_keys=True))
    print(json.dumps(result))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
