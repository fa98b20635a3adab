"""logmetrics_spark benchmark: closed-loop batch workloads with an oracle check.

Usage (from the repository root):

    python3 perfbench/run.py --workload pages_throughput --seed 1 --seconds 20 --trace 0

One client runs the workload's operation over and over for ``--seconds``
seconds; each run starts only after the previous one finished. Every run's
routed output is checked against the sequential oracle, and a run whose
output differs (or that raises) counts as failed.

``--trace 0`` prints the end-to-end metrics:
  setup_s      session start plus the untimed warm-up passes
  pages_per_s  input pages / median wall time of one run
``--trace 1`` makes two untraced baseline runs, then one traced run with
every layer boundary materialised (see traced.py), times the Python
kernels in-process, and runs the workload once more at ``local[1]``; it
prints the per-layer metrics. Among them is ``session.peak_rss_mb``, the
median over the baseline runs of each run's peak summed resident memory
of this process, the JVM and its Python workers. It is not an end-to-end
metric because JVM heap growth moves it by ~15% from run to run. Spans go
to ``.perfbench_cache/traces``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Inputs, oracle
digests and scratch output live under ``.perfbench_cache`` in the
repository root; nothing is written elsewhere.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def cpu_steal_s() -> float:
    """Host CPU time stolen from this VM so far (all cores), from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class TreeRss:
    """Samples the summed resident memory of this process and all of its
    descendants (the JVM and its Python workers) from /proc. ``peak`` is
    the largest sample since the last :meth:`reset`."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we looked
            children.setdefault(ppid, []).append(int(name))
        total, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self.PAGE
            except (OSError, IndexError, ValueError):
                pass
            stack.extend(children.get(pid, ()))
        return total

    def reset(self) -> None:
        rss = self.sample()
        with self._lock:
            self.peak = rss

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = self.sample()
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def isolate_environment() -> None:
    """Shipped session defaults only, and every file inside the checkout."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k == "SPARK_DRIVER_MEM":
            del os.environ[k]
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # JVM temp files and its perf-data file would otherwise go to /tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_spark(app: str, cores: int):
    from logmetrics_spark.session import get_spark

    return get_spark(app, master=f"local[{cores}]", shuffle_partitions=cores,
                     extra_conf={"spark.local.dir": os.path.join(CACHE, "spark-local"),
                                 "spark.ui.showConsoleProgress": "false"})


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def closed_loop(runner, expected, seconds: float, tally: Tally,
                max_runs: int | None = None) -> tuple[list[float], list[int]]:
    """Run operations back to back for ``seconds`` (or ``max_runs``).
    Returns the wall times and peak RSS bytes of the runs whose output
    matched the oracle."""
    times: list[float] = []
    peaks: list[int] = []
    t_end = time.perf_counter() + seconds
    n = 0
    with TreeRss() as rss:
        while time.perf_counter() < t_end and (max_runs is None or n < max_runs):
            n += 1
            rss.reset()
            steal0 = cpu_steal_s()
            try:
                dt, ok = runner.run_checked(expected)
            except Exception:
                log("operation failed:\n" + traceback.format_exc())
                dt, ok = 0.0, False
            tally.record(ok)
            if ok:
                times.append(dt)
                peaks.append(rss.peak)
            log(f"run {tally.attempted}: {dt:.3f} s, peak rss {rss.peak / 2**20:.0f} MB, "
                f"cpu steal {cpu_steal_s() - steal0:.2f} s, "
                f"{'ok' if ok else 'FAILED'}")
    return times, peaks


def main() -> int:
    import workloads as W

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("logmetrics_spark/__init__.py", *W.CONFIG_FILES)
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        log(f"not a logmetrics_spark checkout (missing {', '.join(missing)}) under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    isolate_environment()

    e2e_units, layer_units = metric_units()
    wl = W.WORKLOADS[args.workload]
    cfgs = W.load_configs(ROOT, wl)
    t0 = time.perf_counter()
    inputs = W.make_inputs(wl, args.seed, CACHE)
    log(f"input {inputs.digest[:16]} ({inputs.n_pages} pages) in {time.perf_counter() - t0:.1f} s")
    t0 = time.perf_counter()
    # one child process per config, side by side (the digests add up); in
    # children, so the oracle's memory never counts as ours
    children = [
        subprocess.Popen([sys.executable, os.path.join(ROOT, "perfbench", "workloads.py"),
                          "--oracle", wl.name, str(args.seed), str(i), ROOT, CACHE],
                         stdout=subprocess.PIPE, text=True)
        for i in range(len(cfgs))
    ]
    parts = [json.loads(c.communicate()[0]) for c in children]
    if any(c.returncode for c in children):
        log("oracle failed")
        return 1
    expected = (sum(p[0] for p in parts), sum(p[1] for p in parts))
    log(f"oracle {expected[0]} routed rows in {time.perf_counter() - t0:.1f} s")

    cores = len(os.sched_getaffinity(0))
    run_id = f"{wl.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}-{int(time.time())}"
    out_dir = os.path.join(CACHE, "out", run_id)
    tally = Tally()
    metrics: dict[str, float | None] = {}
    unmeasured: dict[str, str] = {}
    no_value_reason = "no successful run"
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(f"perfbench-{wl.name}", cores)
        runner = W.Runner(spark, wl, cfgs, inputs, out_dir)
        runner.warm_up()
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.2f} s at local[{cores}]")

        # the traced run only needs an untraced baseline for its overhead
        times, peaks = closed_loop(runner, expected, args.seconds, tally,
                                   max_runs=2 if args.trace else None)
        pages_per_s = inputs.n_pages / statistics.median(times) if times else None

        if not args.trace:
            if times:
                metrics = {"setup_s": setup_s, "pages_per_s": pages_per_s}
        else:
            from traced import Tracer, last_error, python_kernels, traced_pipeline

            tracer = Tracer(run_id)
            if peaks:
                metrics["session.peak_rss_mb"] = statistics.median(peaks) / 2**20
            try:
                layer, ok = traced_pipeline(runner, tracer, expected)
                tally.record(ok)
                metrics.update(layer)
                if times:
                    metrics["trace.overhead_s"] = layer["pipeline.traced_s"] - statistics.median(times)
            except Exception:  # a renamed layer function: report it, keep going
                log("traced run failed:\n" + traceback.format_exc())
                tally.record(False)
                no_value_reason = last_error()
            trace_path = os.path.join(CACHE, "traces", run_id + ".json")
            tracer.dump(trace_path)
            log(f"spans written to {trace_path}")

            kern, why = python_kernels(cfgs, inputs)
            metrics.update(kern)
            unmeasured.update(why)

            # the same job on one core: the single-threaded baseline
            stop_spark(spark)
            spark = start_spark(f"perfbench-{wl.name}-1core", 1)
            runner = W.Runner(spark, wl, cfgs, inputs, out_dir)
            runner.start_workers()  # the JIT is already warm
            try:
                dt, ok = runner.run_checked(expected)
            except Exception:
                log("1-core run failed:\n" + traceback.format_exc())
                dt, ok = 0.0, False
            tally.record(ok)
            if ok and pages_per_s:
                metrics["scaling.pages_per_s_1core"] = inputs.n_pages / dt
                metrics["scaling.eff_1to4"] = pages_per_s / (inputs.n_pages / dt) / cores
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(out_dir, ignore_errors=True)

    units = layer_units if args.trace else e2e_units
    for k in units:
        if metrics.get(k) is None:
            unmeasured.setdefault(k, no_value_reason)
    info = {"workload": wl.name, "seed": args.seed, "input_digest": inputs.digest,
            "pages": inputs.n_pages, "oracle_rows": expected[0], "cores": cores,
            "peak_rss_mb": statistics.median(peaks) / 2**20 if peaks else None,
            "unmeasured": unmeasured}
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    result = {
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": max(tally.attempted, 1),
        "failed": tally.failed if tally.attempted else 1,
        "metrics": {k: {"value": metrics.get(k), "unit": u} for k, u in units.items()},
    }
    with open(os.path.join(CACHE, "results", run_id + ".json"), "w") as fh:
        json.dump({"info": info, "result": result}, fh, indent=1)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
