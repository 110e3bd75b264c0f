"""Benchmark entry point.

    python3 perfbench/run.py --workload {wrm_feed,curation_daily}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process is one run: it starts one
Spark driver at ``local[3]`` with a 2g heap, generates the workload's
inputs from the seed into a fresh work directory under ``.perfbench/``,
builds what the workload reads, makes one untimed warm pass of the
workload's op mix, then times a fixed amount of work set by ``--seconds``
(a count, not a time box). It checks every output and prints the metrics;
the last stdout line is one JSON object. A wrong output prints
``"correct": false`` and exits 1.

``--trace 1`` wraps the program's layer functions from the benchmark's own
files and prints per-layer metrics instead of the end-to-end ones; the
full span breakdown goes to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time


def _process_start() -> float:
    """Wall time at which this process started (from /proc)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


PROCESS_START = _process_start()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import stats  # noqa: E402

# Run settings: existing environment settings of the package, set here and
# recorded in every result and in perfbench/README.md.
CPUS = 3  # local[3]: one of the host's 4 cores stays free for the feed generator
DRIVER_MEM = "2g"  # the package default (16g) exceeds the host's RAM

WORKLOADS = ("wrm_feed", "curation_daily")


class Context:
    """What a workload gets: the session, its seed and sizes, a fresh work
    directory, and the clock that separates set-up from the timed window."""

    def __init__(self, args, root: str, work: str) -> None:
        self.seed, self.seconds = args.seed, args.seconds
        self.root, self.work, self.bench_dir = root, work, BENCH_DIR
        self.spark = None
        self.jvm_pid: int | None = None
        self.tracer = None
        self.counters = None
        self.setup: dict[str, float] = {}
        self.op_times: list[float] = []
        self.timed_start: float | None = None
        self.timed_end: float | None = None
        self.window_counts: dict | None = None
        self.steal_share: float | None = None
        self._window_before: dict | None = None
        self._cpu_before: tuple[int, int] = (0, 0)

    def build(self, fn):
        """Set-up's input build, timed into the set-up breakdown."""
        t = time.perf_counter()
        result = fn()
        self.setup["build_s"] = time.perf_counter() - t
        return result

    def warm(self, fn) -> None:
        t = time.perf_counter()
        fn()
        self.setup["warm_pass_s"] = time.perf_counter() - t

    def mark_timed_start(self) -> None:
        if self.timed_start is None:
            if self.counters:
                self._window_before = self.counters.read()
                from bench import _reset_heap_peaks

                _reset_heap_peaks(self.spark)
            _reset_peak_rss([os.getpid(), self.jvm_pid])
            self._cpu_before = _cpu_jiffies()
            self.timed_start = time.time()

    def mark_timed_end(self) -> None:
        self.timed_end = time.time()
        steal, total = (a - b for a, b in zip(_cpu_jiffies(), self._cpu_before))
        self.steal_share = steal / max(1, total)
        if self.counters:
            self.window_counts = self.counters.delta(self._window_before, self.counters.read())

    def phase(self, name) -> None:
        """Tag the spans that follow (any thread) with ``name``."""
        if self.tracer is not None:
            self.tracer.op_id = name

    def op(self, fn):
        """One timed closed-loop op."""
        self.mark_timed_start()
        t = time.perf_counter()
        if self.tracer is not None:
            self.tracer.op_id = len(self.op_times)
            with self.tracer.span("op"):
                fn()
        else:
            fn()
        self.op_times.append(time.perf_counter() - t)
        self.mark_timed_end()

    def timed_wall(self) -> float:
        return self.timed_end - self.timed_start


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of this host's CPUs, from /proc/stat. Steal is
    time the hypervisor gave the CPUs to another guest; its share over the
    timed window attributes a slow run to the host."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _reset_peak_rss(pids) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def _peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total += next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
    return total / 1024


def _settings(work: str, cpus: int) -> dict[str, str]:
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # spark-submit's own launcher JVM: no hsperfdata file in /tmp either
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def _session(work: str, log_path: str, trace: bool):
    from bike_data_flow_spark.session import get_spark

    java_opts = " ".join([
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        f"-Dlog4j2.configurationFile=file:{os.path.join(BENCH_DIR, 'log4j2.properties')}",
        f"-Dperfbench.log={log_path}",
    ])
    conf = {"spark.driver.extraJavaOptions": java_opts}
    if trace:
        # keep every SQL execution in the status store: the counters count them
        conf["spark.sql.ui.retainedExecutions"] = "100000"
    return get_spark("perfbench", extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _workload(name: str):
    if name == "wrm_feed":
        import feed as mod
    else:
        import curation as mod
    return mod


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--catchup-baseline", action="store_true",
                   help="internal: wrm_feed's phase A alone at local[1]")
    args = p.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bike_data_flow_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout of the package "
              "(bike_data_flow_spark/ not found)", file=sys.stderr)
        return 2
    cpus = 1 if args.catchup_baseline else CPUS
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(state, "logs"), exist_ok=True)
    os.environ.update(_settings(work, cpus))
    os.environ["TZ"] = "UTC"  # collected timestamps as naive UTC, like the session's
    time.tzset()
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, root)
    suffix = "-local1" if args.catchup_baseline else ""
    log_path = os.path.join(state, "logs", f"{args.workload}{suffix}.log")

    from bench import _host_state

    host = _host_state(work)
    host.update(nproc=os.cpu_count(), loadavg=os.getloadavg(),
                settings=_settings("<work>", cpus))

    ctx = Context(args, root, work)
    try:
        t = time.time()
        ctx.spark = _session(work, log_path, bool(args.trace))
        ctx.setup["boot_s"] = time.time() - t
        from pyspark import SparkContext

        ctx.jvm_pid = SparkContext._gateway.proc.pid
        if args.catchup_baseline:
            import feed

            print(json.dumps({"catchup_rows_per_s": feed.catchup_baseline(ctx)}))
            return 0
        if args.trace:
            from spans import SparkCounters, Tracer

            ctx.tracer, ctx.counters = Tracer(), SparkCounters(ctx.spark)
        result = _workload(args.workload).run(ctx)
        peak_rss = _peak_rss_mb([os.getpid(), ctx.jvm_pid])
        if args.trace:
            result["layer"].update(_engine_layer(ctx, result))
    finally:
        if ctx.tracer is not None:
            ctx.tracer.restore()
        if ctx.spark is not None:
            _stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace and args.workload == "wrm_feed":
        result["layer"]["baseline.local1_catchup_rows_per_s"] = _local1_baseline(args)
    line = _report(args, ctx, result, peak_rss, host, state)
    print(json.dumps(line, separators=(",", ":")))
    return 0 if line["correct"] else 1


def _local1_baseline(args) -> float:
    """wrm_feed's catch-up in a fresh process at local[1] (single-threaded
    engine), after this run's own JVM has exited."""
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "wrm_feed",
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--catchup-baseline"],
        capture_output=True, text=True, timeout=100, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["catchup_rows_per_s"]


def _engine_layer(ctx, result) -> dict:
    """Engine counters over the timed window, per op, plus the span
    coverage: the share of each timed op span's wall time that the spans of
    the layers it calls cover."""
    from bench import _peak_heap_mb

    ops = max(1, result["ops"])
    w = ctx.window_counts
    spans = ctx.tracer.closed()
    cover = []
    for op in (s for s in spans if s["name"] == result["op_span"] and s["op"] is not None):
        inner = [(max(s["start"], op["start"]), min(s["end"], op["end"])) for s in spans
                 if s is not op and s["name"] != "op" and s["start"] < op["end"]
                 and s["end"] > op["start"]]
        cover.append(stats.union_length(inner) / (op["end"] - op["start"]))
    return {
        "session.boot_s": ctx.setup["boot_s"],
        "spark.jobs_per_op": w["jobs"] / ops,
        "spark.sql_executions_per_op": w["sql"] / ops,
        "spark.task_s_per_op": w["task_ms"] / ops / 1000,
        "jvm.gc_ms": w["gc_ms"],
        "jvm.peak_heap_mb": _peak_heap_mb(ctx.spark),
        "spark.persistent_rdds_end": ctx.counters.persistent_rdds(),
        "trace.coverage": stats.median(cover) if cover else 0.0,
    }


def _layer_table(spans: list[dict]) -> dict:
    """Calls, total and self seconds per span name."""
    table: dict[str, dict] = {}
    for s, self_s in zip(spans, stats.self_times(spans)):
        row = table.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += s["end"] - s["start"]
        row["self_s"] += self_s
    return table


def _report(args, ctx, result, peak_rss, host, state) -> dict:
    samples = result["latency_samples"]
    errors = list(result["errors"])
    if not samples:
        errors.append("no timed op completed")
    attempted = result.get("attempted", len(samples))
    failed = result.get("failed", 0)
    setup_s = ctx.timed_start - PROCESS_START
    p50 = stats.median(samples) if samples else float("nan")
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (p50, "s"),
        "throughput_per_s": (result["rate"], "1/s"),
    }
    # the same figures under the workload's own names, plus what the run
    # cannot gate on: the failure share and, where the sample supports it, p90
    lat = result["latency_name"]
    named = {
        "setup_s": (setup_s, "s"),
        "failed_share": (failed / attempted if attempted else 1.0, "1"),
        "peak_rss_mb": (peak_rss, "MB"),
        lat.format(50): (p50, "s"),
        result["rate_name"]: (result["rate"], "1/s"),
    }
    if stats.tail_supported(len(samples), 90):
        named[lat.format(90)] = (stats.percentile(samples, 90), "s")
    else:
        named[lat.format(90)] = (None, f"s (not reported: {len(samples)} samples < 100)")
    print(f"# {args.workload} seed={args.seed} samples={len(samples)} "
          f"attempted={attempted} failed={failed}")
    for k, (v, u) in named.items():
        print(f"  {k:<24} {'-' if v is None else f'{v:.6g}'} {u}")
    if samples:
        print(f"  {'warmup.first_op_ratio':<24} {samples[0] / p50:.4g} (first timed op / median)")
    print(f"  setup parts: {json.dumps(ctx.setup)}")
    if result.get("detail"):
        print(f"  detail: {json.dumps(result['detail'])}")
    print(f"  host: {json.dumps({**host, 'steal_share_timed': ctx.steal_share})}")
    for e in errors[:20]:
        print(f"WRONG OUTPUT: {e}")

    if args.trace:
        layer = dict(result["layer"], peak_rss_mb=peak_rss)
        if samples:
            layer["warmup.first_op_ratio"] = samples[0] / p50
        spans = ctx.tracer.closed()
        table = _layer_table(spans)
        for name, row in sorted(table.items()):
            print(f"  span {name:<30} calls={row['calls']:<5} total={row['total_s']:.3f}s "
                  f"self={row['self_s']:.3f}s")
        for k, v in layer.items():
            print(f"  {k:<40} {v:.6g}")
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        with open(os.path.join(state, "traces", f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"layer": layer, "spans_by_name": table, "spans": spans,
                       "end_to_end": {k: v for k, (v, _) in metrics.items()},
                       "named": named, "host": host}, fh)
        metrics = {k: (layer[k], _UNITS[k]) for k in _UNITS}
    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


# per_layer metrics of BENCHMARK.json: the ones every workload has
_UNITS = {
    "session.boot_s": "s",
    "spark.jobs_per_op": "count",
    "spark.sql_executions_per_op": "count",
    "spark.task_s_per_op": "s",
    "jvm.gc_ms": "ms",
    "jvm.peak_heap_mb": "MB",
    "spark.persistent_rdds_end": "count",
    "trace.coverage": "share",
    "warmup.first_op_ratio": "ratio",
    "peak_rss_mb": "MB",
}


if __name__ == "__main__":
    sys.exit(main())
