"""The engine's benchmark: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload cdc_micro_cow --seed 1 --seconds 10 --trace 0

Run it from the root of a source checkout. It starts Spark in local mode
with no more task slots than the machine has cores, makes the workload's
inputs from ``--seed``, runs the cold first operation(s) (counted in
``setup_s``), then runs whole rounds of the workload's operation for
``--seconds`` seconds in a closed loop with one client, checks the
outputs against computations made apart from the engine, and prints one
JSON object as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from spans around the layer calls (written to
``.bench_out/``), with the tracing overhead against the untraced
operations of the same run. Workloads and metrics: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import cdc
import curation
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("cdc_micro_cow", "curation_ops")


def per_layer_metrics() -> dict[str, str]:
    """Per-layer metric -> unit, as BENCHMARK.json lists them. Every traced
    run reports all of them; a layer the workload does not exercise reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


class Ctx:
    """What a workload gets: the session, the tracer, a scratch dir, the
    run's arguments and the per-operation-type counters."""

    def __init__(self, args, spark, tracer, workdir: str, t_start: float, jvm_log: str):
        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.t_start = t_start
        self.jvm_log = jvm_log
        self.ops: dict[str, dict[str, int]] = {}
        self.layers: dict[str, float] = {}
        self.checks: list[str] = []

    def count(self, op: str, ok: bool) -> None:
        c = self.ops.setdefault(op, {"attempted": 0, "failed": 0})
        c["attempted"] += 1
        c["failed"] += 0 if ok else 1

    def attempt(self, op: str, fn):
        """Run one operation; an exception counts it as failed and the run
        goes on. Returns (ok, seconds, result)."""
        t = time.perf_counter()
        try:
            out = fn()
            ok = True
        except Exception:
            out = None
            ok = False
            log(f"{op} failed:\n{traceback.format_exc()}")
        dt = time.perf_counter() - t
        self.count(op, ok)
        return ok, dt, out

    @staticmethod
    def log(msg: str) -> None:
        log(msg)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self.checks.append(f"{name}: {detail}")
            log(f"CHECK FAILED {name}: {detail}")

    def codegen_failures(self) -> int:
        try:
            with open(self.jvm_log, errors="replace") as f:
                return f.read().count("Failed to compile the generated Java code")
        except OSError:
            return 0


_ERR = sys.stderr


def log(msg: str) -> None:
    print(msg, file=_ERR, flush=True)


def task_slots() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, n)


def redirect_jvm_stderr(path: str) -> None:
    """Point fd 2 at ``path`` so the JVM launched next logs there (and its
    codegen failures can be counted); our own messages keep the original
    stderr."""
    global _ERR
    saved = os.dup(2)
    _ERR = os.fdopen(saved, "w", buffering=1)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    sys.stderr = _ERR


def start_spark(workdir: str, slots: int):
    from pyspark.sql import SparkSession

    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # python workers (arrow/pandas operators) import the engine from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    spark = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("perfbench")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(max(2 * slots, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine must be importable from the checkout before any work
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    import embulk_filter_timestamp_format_spark  # noqa: F401

    run_workload = cdc.run if args.workload == "cdc_micro_cow" else curation.run

    workdir = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    jvm_log = os.path.join(workdir, "jvm.log")
    redirect_jvm_stderr(jvm_log)
    spark = None
    ok = False
    try:
        t = time.perf_counter()
        spark = start_spark(workdir, task_slots())
        spark_start_s = time.perf_counter() - t
        tracer = Tracer(spark, enabled=False)
        ctx = Ctx(args, spark, tracer, workdir, t_start, jvm_log)
        ctx.layers["spark.start_s"] = spark_start_s
        res = run_workload(ctx)
        if not res["latencies"]:
            raise RuntimeError("no timed operation succeeded")

        print("ops: " + json.dumps(ctx.ops, sort_keys=True))
        print("latencies_s: " + json.dumps([round(x, 4) for x in res["latencies"]]))
        if "op_latencies" in res:
            print("op_latencies_s: " + json.dumps(
                [[name, t if t is None else round(t, 4)] for name, t in res["op_latencies"]]
            ))
        if args.trace:
            tracer.write(os.path.join(
                ROOT, ".bench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"
            ))
            per_layer = per_layer_metrics()
            unknown = set(ctx.layers) - set(per_layer)
            if unknown:
                raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
            metrics = {
                k: {"value": ctx.layers.get(k, 0), "unit": unit}
                for k, unit in per_layer.items()
            }
        else:
            metrics = {
                "setup_s": {"value": res["setup_s"], "unit": "s"},
                "op_p50_s": {"value": statistics.median(res["latencies"]), "unit": "s"},
                "items_per_s": {"value": res["items"] / sum(res["latencies"]), "unit": "1/s"},
            }
        attempted = sum(c["attempted"] for c in ctx.ops.values())
        failed = sum(c["failed"] for c in ctx.ops.values())
        if ctx.checks:
            log("output checks failed: " + "; ".join(ctx.checks))
        ok = True
        print(json.dumps({
            "correct": not ctx.checks,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        if not ok:
            try:
                with open(jvm_log, errors="replace") as f:
                    tail = f.readlines()[-40:]
                log("last JVM log lines:\n" + "".join(tail))
            except OSError:
                pass
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
