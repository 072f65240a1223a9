"""Shared benchmark machinery: paths, the Spark session, set-up repetitions,
the closed measuring loop, run context and peak memory.

Load model: one Python process drives ``local[nproc]`` Spark with no extra
client threads.  Every workload is a closed loop with one client: the next
operation starts only after the previous one has returned.
"""

from __future__ import annotations

import math
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

#: Fewest timed operations in a run, even when they outlast ``--seconds``.
MIN_OPS = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (``q`` in (0, 1])."""
    if not values:
        return 0.0
    ordered = sorted(values)
    return float(ordered[max(0, math.ceil(q * len(ordered)) - 1)])


@dataclass
class OpResult:
    items: int
    failed_items: int = 0


@dataclass
class Loop:
    latencies_ms: list = field(default_factory=list)
    items: int = 0
    attempted: int = 0
    failed: int = 0
    busy_s: float = 0.0


class Bench:
    """One benchmark process: owns the work directory and the session."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, tracer):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.spark = None
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        os.makedirs(self.work, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def new_session(self):
        """Stop the current session (if any) and start one sized from nproc."""
        from document_parser_spark.sources.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        local = self.path("spark-local")
        os.makedirs(local, exist_ok=True)
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            cpus=nproc(),
            extra={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop the session, then the JVM it runs in, and wait until every
        process this run started (JVM, Python daemon and workers) has ended."""
        from pyspark import SparkContext

        started = _descendants()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while any(os.path.exists(f"/proc/{pid}") for pid in started) and time.monotonic() < deadline:
            time.sleep(0.2)
        shutil.rmtree(self.work, ignore_errors=True)


def run_setups(bench: Bench, workload, t_process_start: float) -> list[float]:
    """Set up ``workload.setups`` times (``setup_s`` is their median): a
    fresh session, staged inputs and, for ``search``, the index build.  The
    first set-up is timed from process start, later ones from their own
    start.  The last set-up's session and inputs serve the warm-up and the
    measuring loop; the warm-up runs once, after the last set-up, and is
    timed on its own (``warmup_ms``)."""
    times = []
    for k in range(workload.setups):
        t0 = t_process_start if k == 0 else time.perf_counter()
        bench.tracer.request = f"setup-{k}"
        with bench.tracer.span("sources.session", "get_spark"):
            bench.new_session()
        workload.setup(k)
        times.append(time.perf_counter() - t0)
    bench.tracer.request = "warmup"
    with bench.tracer.span("bench", "warmup"):
        workload.warmup()
    bench.tracer.request = None
    return times


def measure(bench: Bench, workload, seconds: float, tag: str) -> Loop:
    """Closed loop: run operations back to back for ``seconds``, and at
    least ``MIN_OPS`` of them.  An operation that raises counts all its
    items as failed and the loop goes on."""
    loop = Loop()
    deadline = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < deadline or i < MIN_OPS:
        bench.tracer.request = f"{tag}-{i}"
        t0 = time.perf_counter()
        try:
            res = workload.op(i)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res = OpResult(items=workload.items_per_op, failed_items=workload.items_per_op)
        dt = time.perf_counter() - t0
        loop.latencies_ms.append(dt * 1000.0)
        loop.busy_s += dt
        loop.items += res.items - res.failed_items
        loop.attempted += res.items
        loop.failed += res.failed_items
        workload.after_op(i)
        i += 1
    bench.tracer.request = None
    return loop


def _descendants() -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    me = os.getpid()
    found = []
    for pid in parent:
        p = parent.get(pid)
        while p and p != me:
            p = parent.get(p)
        if p == me:
            found.append(pid)
    return found


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (``VmHWM``) of this process's descendants, in
    MB: the JVM, the Python workers it forks, and their sum (the driver
    interpreter itself is excluded)."""
    out = {"jvm": 0.0, "python_workers": 0.0}
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                kind = "jvm" if fh.read().strip() == "java" else "python_workers"
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[kind] += int(line.split()[1]) / 1024.0
        except OSError:
            continue
    out["total"] = out["jvm"] + out["python_workers"]
    return out


def run_context(bench: Bench, kind: str, load_before) -> dict:
    import pyarrow
    import pyspark

    return {
        "workload": bench.workload,
        "seed": bench.seed,
        "seconds": bench.seconds,
        "run_kind": kind,
        "nproc": nproc(),
        "loadavg_before": list(load_before),
        "loadavg_after": list(os.getloadavg()),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "platform": platform.platform(),
    }


def results_path(bench: Bench, kind: str) -> str:
    """Where a run keeps its record (run context, result, trace spans)."""
    out = os.path.join(bench.root, ".perfbench_work", "results")
    os.makedirs(out, exist_ok=True)
    return os.path.join(out, f"{bench.workload}-seed{bench.seed}-{kind}-{os.getpid()}.json")
