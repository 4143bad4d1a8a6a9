"""kgforge benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run starts one local Spark session
(``local[<cores>]``), builds the seeded inputs (cached under ``.perfbench/``),
runs one untimed warm-up operation, then runs whole timed operations until
``--seconds`` have passed.  Every output is checked; a failed check counts
as a failed operation and makes the command exit 1.

stdout: one ``name value unit`` line per metric, then, as the last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` re-runs the same timed
operations with per-layer spans and reports the per-layer metrics (see
perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench.clock import Interval  # noqa: E402

SETUP = Interval().__enter__()  # set-up runs from process start

E2E_UNITS = {
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("kg_build", "anon_requests"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("default", "tiny"), default="default",
                   help="input size; 'tiny' is for the self-test")
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt the first timed output (self-test of the gate)")
    return p.parse_args(argv)


def start_spark(root: str, workload: str):
    """One local session sized to this machine.  Request-sized anonymization
    runs with one shuffle partition and one default slice (what a service
    answering fixture-sized requests would configure); the KG build uses one
    of each per core."""
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    parts = cores if workload == "kg_build" else 1
    scratch = os.path.join(root, ".perfbench", "tmp")
    os.makedirs(scratch, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"perfbench-{workload}")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.default.parallelism", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.maxPlanStringLength", "1048576")
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", scratch)
        .config("spark.sql.warehouse.dir", os.path.join(root, ".perfbench", "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)


class RssSampler:
    """High-water resident set size of one process, sampled every 20 ms."""

    def __init__(self, pid: int):
        self.path = f"/proc/{pid}/status"
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        with open(self.path) as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                    return

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(0.02)

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def corrupt(workload: str, rec: dict) -> None:
    if workload == "kg_build":
        rec["triples"] += 1
        return
    resp = rec["response"]
    rows = resp.get("data") or resp.get("@graph")
    for row in rows:
        for key in row:
            if key.endswith("_masked"):
                row[key] = "Person 0"
                return


def run_ops(wl, n_ops: int | None, seconds: float, log, on_first=None):
    """Run whole operations until ``seconds`` have passed (or exactly
    ``n_ops`` of them).  Returns (records, attempted, failed, elapsed)."""
    records, attempted, failed = [], 0, 0
    t0 = time.perf_counter()
    while True:
        i = attempted
        attempted += 1
        try:
            rec = wl.op(i)
            if on_first is not None and i == 0:
                on_first(rec)
            fails = wl.check_op(rec)
        except Exception:  # an operation that raised is a failed operation
            log(f"operation {i} raised:\n{traceback.format_exc()}")
            failed += 1
        else:
            records.append(rec)
            if fails:
                failed += 1
                for m in fails:
                    log(f"operation {i} check failed: {m}")
        elapsed = time.perf_counter() - t0
        if n_ops is not None:
            if attempted >= n_ops:
                return records, attempted, failed, elapsed
        elif elapsed >= seconds:
            return records, attempted, failed, elapsed


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kgforge", "__init__.py")):
        print("perfbench: kgforge/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(root, ".perfbench", "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    from perfbench import checks
    from perfbench.tracer import Tracer, per_layer_units
    from perfbench.workloads import WORKLOADS

    def log(msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def phase(name: str) -> None:
        log(f"{name} done at {time.perf_counter() - T_START:.2f} s")

    spark = start_spark(root, args.workload)
    phase("session start")
    try:
        wl = WORKLOADS[args.workload](spark, root, args.seed, args.size)
        attempted, failed = 1, 0
        try:
            wl.prepare()
            phase("inputs")
            setup_fails = wl.warmup()
        except Exception:
            setup_fails = [f"raised:\n{traceback.format_exc()}"]
        for m in setup_fails:
            log(f"warm-up check failed: {m}")
        failed += bool(setup_fails)
        SETUP.__exit__(None, None, None)
        setup_s = SETUP.seconds
        phase("warm-up")

        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        on_first = (lambda rec: corrupt(args.workload, rec)) if args.corrupt else None
        with RssSampler(jvm_pid) as rss:
            records, n, f, elapsed = run_ops(wl, None, args.seconds, log, on_first)
        attempted += n
        failed += f

        layer = None
        if args.trace:
            # replay the warm-up operation and the timed operations, traced
            phase("timed operations")
            tracer = Tracer(spark)
            tracer.install()
            try:
                try:
                    warm_fails = wl.warmup()
                except Exception:
                    warm_fails = [f"raised:\n{traceback.format_exc()}"]
                _, n, f, traced_elapsed = run_ops(wl, len(records) or 1, 0.0, log)
            finally:
                tracer.uninstall()
                tracer.release()
            for m in warm_fails:
                log(f"traced warm-up check failed: {m}")
            attempted += n + 1
            failed += f + bool(warm_fails)
            layer = tracer.layer_metrics()
            layer["trace.overhead_s"] = traced_elapsed - elapsed
            layer["trace.bookkeeping_s"] = tracer.bookkeeping_s
            out_dir = os.path.join(root, ".perfbench", "out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.jsonl"))

        phase("traced replay" if args.trace else "timed operations")
        attempted += 1  # the end-of-run verification is an operation too
        try:
            fails, got = wl.final_checks()
            fails += checks.compare_golden(
                checks.golden(args.workload, args.size, args.seed), got)
        except Exception:
            fails, got = [f"final checks raised:\n{traceback.format_exc()}"], {}
        for m in fails:
            log(f"check failed: {m}")
        failed += bool(fails)
        phase("final checks")

        throughput, latency, named = wl.summarize(records) if records else (0.0, 0.0, [])
    finally:
        stop_spark(spark)

    e2e = {
        "throughput_per_s": throughput,
        "latency_p50_s": latency,
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_kb / 1024.0,
    }
    for name, value in e2e.items():
        print(f"{name} {value} {E2E_UNITS[name]}")
    for name, value, unit in named:
        print(f"{name} {value} {unit}")
    print(f"wall_setup_s {SETUP.wall} s")
    print(f"error_rate {failed / attempted} ratio ({failed}/{attempted})")
    print(f"measured_s {elapsed} s ({len(records)} ops)")
    for key, value in sorted(got.items()):
        print(f"digest {key} {value}")
    if layer is not None:
        units = per_layer_units()
        for name, value in layer.items():
            print(f"{name} {value} {units[name]}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
