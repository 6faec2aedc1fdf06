"""Seeded benchmark of sparkglm_spark on a local[4] Spark session.

    python3 perfbench/run.py --workload glm_fits --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One run: generate the workload's inputs
from the seed; set up (JVM launch, `get_spark`, input registration and a
warm-up scan, timed as setup_s); then a closed-loop, single-threaded client
runs the workload's cycle of ops back to back until --seconds have passed,
at least one full cycle; then every op's output is checked. The last line
of stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 prints the end-to-end metrics. --trace 1 first runs the same seed
untraced in a child process, then runs again with spans and Spark
status-store reads around every op, prints the per-layer metrics plus the
tracing overhead against the child, and writes the spans and per-op
records to .perfbench/trace/.

Everything the benchmark writes stays under .perfbench/ in the checkout.
The dedup workload matches against a fixed known corpus whose MinHash index
is built once by the library under test (outside every timed region) and
rebuilt whenever the library sources change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
CPUS = 4
# The driver JVM's heap is fixed (-Xms = -Xmx): with a growable heap, G1's
# sizing decisions alone moved peak RSS by 10-20% between runs.
DRIVER_HEAP = "2g"

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "rows_per_s": "rows/s"}
LAYER_UNITS = {
    "ops.fit_s": "s", "ops.predict_s": "s", "ops.prepare_s": "s", "ops.match_s": "s", "ops.append_s": "s",
    "encoding.s": "s", "encoding.jobs": "count",
    "gram.calls": "count", "gram.s": "s", "gram.agg_columns": "count",
    "glm.iterations": "count", "fit.jobs": "count", "fit.driver_gap_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.input_bytes": "bytes", "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.output_bytes": "bytes", "spark.codegen_compiles": "count",
    "pyworker.s": "s", "pyworker.boot_s": "s", "pyworker.bytes_sent": "bytes", "pyworker.bytes_received": "bytes",
    "cache.persist_calls": "count", "cache.peak_bytes": "bytes",
    "dedup.signature_s": "s", "dedup.match_pairs_s": "s", "dedup.batch_pairs_s": "s",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio",
    "dedup.match_small_path": "count", "dedup.near_dup_recall": "ratio",
    "pipeline.s": "s", "pipeline.pass_ratio": "ratio",
    "io.files_written": "count", "io.bytes_written": "bytes",
    "trace.overhead_ratio": "ratio",
}
OP_KINDS = ("fit", "predict", "prepare", "match", "append")


def configure_env() -> None:
    """Pin the session to 4 cores and keep every file Spark, the JVM and
    Python write inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_HEAP}"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p
    )
    for p in (str(HERE), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_spark():
    from sparkglm_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until no process this run
    started is left."""
    from pyspark import SparkContext

    import procstat

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(procstat.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def ensure_known_index() -> None:
    """Build the dedup workload's known corpus and index in a separate
    process if they are missing, so no run times a warmer JVM."""
    from workloads import known_paths

    _, index = known_paths(WORK)
    if not index.exists():
        subprocess.run([sys.executable, str(Path(__file__).resolve()), "--build"], check=True, timeout=840)


def build() -> None:
    from workloads import build_known

    spark = start_spark()
    try:
        build_known(spark, WORK)
    finally:
        stop_spark(spark)


def run_untraced_child(args) -> dict:
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, check=True, timeout=400, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def run_cycles(wl, seconds: float, tracer) -> tuple[list, list[float], list[float], int]:
    """The closed loop: whole cycles until `seconds` have passed. Returns
    the cycles, each cycle's wall and CPU seconds, and the peak RSS."""
    from contextlib import nullcontext

    import procstat
    from workloads import Cycle

    ops = wl.ops()
    cycles, walls, cpus = [], [], []
    rss = procstat.PeakRss()
    rss.start()
    t_start = time.perf_counter()
    while True:
        cyc, c = Cycle(), len(cycles)
        t0, cpu0 = time.perf_counter(), procstat.tree_cpu_s()
        for op in ops:
            scope = tracer.op(op.name, op.kind) if tracer else nullcontext()
            t = time.perf_counter()
            try:
                with scope:
                    cyc.result[op.name] = op.run(c)
            except Exception as exc:  # an op that raises counts as failed
                cyc.error[op.name] = f"{type(exc).__name__}: {exc}"
            cyc.latency[op.name] = time.perf_counter() - t
            print(f"cycle {c} {op.name}: {cyc.latency[op.name]:.2f} s", file=sys.stderr, flush=True)
        walls.append(time.perf_counter() - t0)
        cpus.append(procstat.tree_cpu_s() - cpu0)
        cycles.append(cyc)
        if time.perf_counter() - t_start >= seconds:
            break
    return cycles, walls, cpus, rss.stop()


def layer_metrics(tracer, cycles, extras: dict, untraced_wall: float, traced_wall: float) -> dict:
    n = len(cycles)
    ops = tracer.ops
    total = lambda key, recs=ops: sum(r[key] for r in recs)  # noqa: E731
    fits = [r for r in ops if r["kind"] == "fit"]
    out = {}
    for kind in OP_KINDS:
        lat = [r["wall_s"] for r in ops if r["kind"] == kind]
        out[f"ops.{kind}_s"] = sum(lat) / len(lat) if lat else 0.0
    out.update({k: v / n for k, v in tracer.layer_totals().items()})
    for key in ("encoding.jobs", "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
                "spark.executor_cpu_s", "spark.gc_s", "spark.input_bytes", "spark.shuffle_write_bytes",
                "spark.shuffle_read_bytes", "spark.output_bytes", "spark.codegen_compiles", "pyworker.s",
                "pyworker.boot_s", "pyworker.bytes_sent", "pyworker.bytes_received", "cache.persist_calls",
                "dedup.candidate_pairs", "dedup.verified_pairs", "io.files_written", "io.bytes_written"):
        out[key] = total(key) / n
    out["fit.jobs"] = total("spark.jobs", fits) / n
    out["fit.driver_gap_s"] = sum(r["wall_s"] - r["job_covered_s"] for r in fits) / n
    out["cache.peak_bytes"] = max((r["cache.bytes"] for r in ops), default=0)
    out["dedup.match_small_path"] = max((r["dedup.match_small_path"] for r in ops), default=0)
    cand = total("dedup.candidate_pairs")
    out["dedup.verify_yield"] = total("dedup.verified_pairs") / cand if cand else 0.0
    out.update(extras)
    out["trace.overhead_ratio"] = traced_wall / untraced_wall - 1.0
    return {k: {"value": out[k], "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload")
    parser.add_argument("--seed", type=int, default=0)
    parser.add_argument("--seconds", type=float, default=15)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--build", action="store_true", help=argparse.SUPPRESS)
    args = parser.parse_args()
    configure_env()
    import sparkglm_spark  # noqa: F401  (fails fast without the library)
    from workloads import WORKLOADS

    if args.build:
        build()
        return 0
    if args.workload not in WORKLOADS:
        parser.error(f"--workload must be one of {sorted(WORKLOADS)}")
    ensure_known_index()
    untraced = run_untraced_child(args) if args.trace else None

    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    wl = WORKLOADS[args.workload](run_dir, WORK)
    wl.generate(args.seed)

    print(f"inputs ready after {time.perf_counter() - T_START:.1f} s", file=sys.stderr, flush=True)
    t0 = time.perf_counter()
    spark = start_spark()
    try:
        wl.register(spark)
        setup_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from tracing import Tracer
            from workloads import THRESHOLD

            tracer = Tracer(spark, THRESHOLD)
            tracer.install()
        t_start = time.perf_counter()
        cycles, walls, cpus, peak_rss = run_cycles(wl, args.seconds, tracer)
        timed_s = time.perf_counter() - t_start
        if tracer:
            tracer.uninstall()
        t_check = time.perf_counter()
        failures, extras = wl.check(cycles)
        print(f"checks took {time.perf_counter() - t_check:.1f} s", file=sys.stderr, flush=True)
        rows = sum(wl.rows(cyc) for cyc in cycles)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    for c, cyc in enumerate(cycles):
        for name, err in cyc.error.items():
            failures[(c, name)] = [err]
    failed = sorted(k for k, errs in failures.items() if errs)
    for c, name in failed:
        print(f"op {name} in cycle {c} failed: {failures[(c, name)]}", file=sys.stderr)
    attempted = sum(len(cyc.latency) for cyc in cycles)
    if args.trace:
        trace_dir = WORK / "trace"
        trace_dir.mkdir(exist_ok=True)
        tracer.dump(trace_dir / f"{args.workload}-seed{args.seed}.json")
        values = layer_metrics(tracer, cycles, extras, untraced["metrics"]["wall_s"]["value"],
                               statistics.median(walls))
    else:
        raw = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": peak_rss / 2**20,
            "rows_per_s": rows / timed_s,
        }
        values = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in raw.items()}
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed), "metrics": values}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
