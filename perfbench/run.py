"""Benchmark of the engine: the reference ETL and the headline queries.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  One Python process drives Spark on
``local[<cpus>]``.  It sets up ``SETUPS`` times, each time cold: a new JVM and
Spark session, freshly written seeded inputs, one warm-up run and one
readback; the median of these set-ups is ``setup_s``.  In the last session,
runs then repeat closed-loop (each starts after the previous one ends) for
``--seconds``, at least ``MIN_RUNS`` of them, and the outputs are checked
once, untimed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end metrics
(medians over the timed runs and set-ups); ``--trace 1`` alternates untraced
and traced runs and reports the per-layer metrics of the traced ones, the
first (cold warm-up) run's counters beside them, and ``trace.overhead_s``.
Traced span records go to ``.perfbench_work/<workload>/spans.jsonl``.  All
files are written under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 2  # each starts a JVM and runs cold, so few fit in the time budget
READBACKS = 3  # per run: a readback is short, so take more samples of it
MIN_RUNS = 3  # the first runs after a cold warm-up are the slowest
FIRST_RUN_KEYS = ("exec.jobs", "exec.stages", "exec.tasks", "exec.exec_s")


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["etl", "headline_core"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def prepare_env(work: str) -> dict[str, str]:
    """Environment for the JVM and Python workers, set before either starts;
    returns the extra session conf that keeps every file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # local[<cpus>] with the engine's shuffle width; a fixed, pre-touched heap
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            # a fixed, pre-touched heap keeps peak RSS from following GC
            # sizing (-Xmx comes from SPARK_DRIVER_MEMORY)
            f"-Duser.timezone=UTC -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
        ),
    }


def readback(spark, lake: list[str]) -> None:
    """Full scan of every table in ``lake``."""
    for path in lake:
        spark.read.parquet(path).write.format("noop").mode("overwrite").save()


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of this machine: steal is time the hypervisor
    gave the CPUs to someone else, a measure of host noise."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under it, and wait; the
    next session then starts a new JVM."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    gateway = SparkContext._gateway
    kids = descendants()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    args = parse_args()
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    conf = prepare_env(work)
    try:
        from perfbench.probes import MB, Ops, RssSampler, Tracer, tree_size
        from perfbench.workloads import WORKLOADS, layer_metrics, op_summary
        from udacity_datalake_spark_spark.session import get_session
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload](args.seed, work)
    ops = Ops()
    rss = RssSampler()
    setups, sessions, first, spark = [], [], {}, None

    # set-up, several times, each cold: a new JVM and session, freshly
    # written inputs, and one warm-up run and readback
    for i in range(SETUPS):
        if spark is not None:
            stop_spark(spark)
        t0 = time.perf_counter()
        spark = get_session(app_name="perfbench", extra_conf=conf)
        sessions.append(time.perf_counter() - t0)
        wl.generate()
        wl.clear(spark)
        tracer = Tracer(spark, f"setup{i}", enabled=bool(args.trace) and i == 0)
        tw = time.perf_counter()
        wl.run(spark, tracer, ops)
        if i == 0 and args.trace:
            tracer.attach_counters()
            first = {"first.wall_s": time.perf_counter() - tw}
            first.update({f"first.{k}": v for k, v in layer_metrics(tracer, wl).items() if k in FIRST_RUN_KEYS})
        readback(spark, wl.lake())
        setups.append(time.perf_counter() - t0)

    # timed runs in the last session, closed loop, as many as fit in
    # --seconds and at least MIN_RUNS; with --trace 1 untraced and traced
    # runs alternate
    walls, traced_walls, readbacks, layers, spans = [], [], [], [], []
    start, cpu0 = time.perf_counter(), host_cpu()
    n = 0
    with rss.active():
        while True:
            traced = bool(args.trace) and n % 2 == 1
            wl.clear(spark)
            tracer = Tracer(spark, f"run{n}", enabled=traced)
            t0 = time.perf_counter()
            wl.run(spark, tracer, ops)
            wall = time.perf_counter() - t0
            if traced:
                traced_walls.append(wall)
                tracer.attach_counters()
                layers.append(layer_metrics(tracer, wl))
                spans.extend(tracer.records())
                summary = op_summary(tracer)
            else:
                walls.append(wall)
            for _ in range(READBACKS):
                t0 = time.perf_counter()
                readback(spark, wl.lake())
                readbacks.append(time.perf_counter() - t0)
            n += 1
            used = time.perf_counter() - start
            if n >= MIN_RUNS and used * (n + 1) / n > args.seconds:
                break
    cpu1 = host_cpu()
    steal = (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1)
    lake_bytes = sum(tree_size(p)[2] for p in wl.lake())

    t0 = time.perf_counter()
    failures = wl.check(spark)
    check_s = time.perf_counter() - t0
    stop_spark(spark)
    rss.close()
    wl.close()
    for f in failures:
        print(f"check failed: {f}", file=sys.stderr)

    if args.trace:
        metrics = {k: statistics.median(m[k] for m in layers) for k in layers[0]}
        metrics["session.start_s"] = statistics.median(sessions)
        metrics["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)
        metrics.update(first)
        with open(os.path.join(work, "spans.jsonl"), "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
        print(json.dumps({"per_op": summary}))
    else:
        metrics = {
            "wall_s": statistics.median(walls),
            "setup_s": statistics.median(setups),
            "peak_rss_mb": rss.peak_bytes / MB,
            "readback_s": statistics.median(readbacks),
            "lake_mb": lake_bytes / MB,
        }
    failed = min(ops.failed + len(failures), ops.attempted)
    print(json.dumps({"workload": args.workload, "runs": len(walls) + len(traced_walls),
                      "error_rate": failed / ops.attempted, "setups_s": setups, "host_steal": steal,
                      "walls_s": walls, "readbacks_s": readbacks, "check_s": check_s,
                      "elapsed_s": time.perf_counter() - START}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ops.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


def unit_of(name: str) -> str:
    """Unit of a metric, from its name's suffix."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("mb"):
        return "MB"
    if name.endswith(("parallelism", "amplification")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
