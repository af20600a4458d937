"""Benchmark entry point.

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one line per metric and, last, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics and the spans are
written to ``perfbench/.work/trace-<workload>-<seed>.json``. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SF = 0.1
# Spark runs local[N] with N + 1 (the stream generator) = the 4 cores the
# workloads were sized on.
CORES = 3


def _process_age() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def process_tree(exclude=frozenset()) -> dict[int, int]:
    """RSS in bytes of this process and every live descendant, skipping the
    subtrees rooted at ``exclude``."""
    page = os.sysconf("SC_PAGE_SIZE")
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{entry}/statm") as f:
                rss[int(entry)] = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue  # the process exited while being read
        children.setdefault(ppid, []).append(int(entry))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler(threading.Thread):
    """Peak RSS of the whole process tree (Python driver, JVM, Python
    workers), sampled from /proc. Processes in ``exclude`` (the stream
    generator, which stands in for the outside world) are not counted."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval, self.peak, self.exclude = interval, 0, set()
        self._stop_evt = threading.Event()

    def sample(self) -> int:
        return sum(process_tree(self.exclude).values())

    def run(self):
        while not self._stop_evt.wait(self.interval):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return max(self.peak, self.sample())


class Context:
    """What a workload needs from the harness, and where it reports."""

    def __init__(self, args, data_dir: str, datagen_s: float):
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.trace = args.seconds, bool(args.trace)
        self.data_dir, self.cores = data_dir, CORES
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.rss = RssSampler()
        self.rss.start()
        self.layer: dict[str, float] = {}
        self.tracer = None
        self.setup_s = self.peak_rss = None
        self._datagen_s = datagen_s

    def setup_done(self, spark) -> None:
        """Marks the first timed operation, after collecting garbage in the
        driver and the JVM so every timed phase starts from a settled heap.
        Generating the (cached) input tables is the benchmark's own work and
        is not counted in set-up."""
        gc.collect()
        spark._jvm.System.gc()
        self.setup_s = _process_age() - self._datagen_s

    def timed_done(self) -> None:
        """Marks the end of the timed phase: peak RSS covers the run up to
        here, not the stream's output check that follows."""
        self.peak_rss = self.rss.stop()

    def add_spark_layers(self, totals: dict, wall: float) -> None:
        for key, value in totals.items():
            self.layer[f"spark.{key}"] = value
        self.layer["sources.scan_bytes"] = totals["scan_bytes"]
        self.layer["spark.busy_base_s"] = wall * self.cores
        self.layer["spark.busy_ratio"] = totals["task_run_s"] / (wall * self.cores)


def _quantile(values: list[float], q: float) -> float:
    """Linear-interpolation quantile (statistics.quantiles' inclusive form)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _stop_engine() -> None:
    """Stop Spark, wait for its JVM to exit (it exits when its stdin
    closes), then end and wait for any process of ours still running."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = set(process_tree()) - {os.getpid()}
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while left and time.time() < deadline:
            time.sleep(0.1)
            left &= set(process_tree())
        if not left:
            return


def _prepare_env() -> None:
    """Keep Spark's and Python's scratch files inside the checkout, and pin
    the engine's environment-overridable settings to their defaults."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_MIN_PARTITION",
                "SPARK_GRAFT_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>.
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    })


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("relational_mix", "llm_dedup", "stream_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("kafka_map_reduce_spark/__init__.py", "tools/parity.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    # Replace the script's own directory, whose module names would shadow
    # the standard library's, with the checkout root and tools/ (parity).
    sys.path[0:1] = [ROOT, os.path.join(ROOT, "tools")]
    _prepare_env()
    from perfbench import datagen

    t = time.perf_counter()
    data_dir = os.path.join(WORK, f"data-sf{SF}")
    if not os.path.isdir(data_dir):
        shutil.rmtree(data_dir + ".tmp", ignore_errors=True)
        datagen.generate(data_dir, SF)
    ctx = Context(args, data_dir, time.perf_counter() - t)
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    os.makedirs(ctx.run_dir)
    try:
        if args.workload == "stream_ingest":
            from perfbench import stream as workload
        else:
            from perfbench import batch as workload
        res = workload.run(ctx)
    finally:
        if ctx.rss.is_alive():
            ctx.rss.stop()
        if "pyspark" in sys.modules:
            _stop_engine()
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    lat = res["latencies"]
    print(f"# {args.workload} seed={args.seed}: {res['attempted']} attempted, "
          f"{res['failed']} failed, {len(lat)} latency samples", flush=True)
    metrics = {
        "setup_s": {"value": ctx.setup_s, "unit": "s"},
        "throughput_per_s": {"value": res["throughput"], "unit": "1/s"},
        "latency_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "latency_p95_s": {"value": _quantile(lat, 0.95), "unit": "s"},
        "peak_rss_mb": {"value": ctx.peak_rss / 2**20, "unit": "MB"},
    }
    if args.trace:
        # End-to-end figures under tracing, for the traced-minus-untraced
        # overhead against a --trace 0 run of the same seed.
        for name, m in metrics.items():
            print(f"# traced {name} {m['value']:.6g} {m['unit']}")
        layer = dict(ctx.layer, **{"trace.overhead_s": ctx.tracer.overhead_s})
        ctx.tracer.write(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"),
                         {"layer": layer})
        for name, s in sorted(ctx.tracer.self_times().items()):
            print(f"# self_s {name} {s:.4f}")
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer"]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in declared}
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
