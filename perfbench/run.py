"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed (cached per seed, outside
every timed section), sets up (starts Spark on ``local[<cores>]`` with
the library's own session factory and runs the workload's untimed
warm-up), then runs the workload's operation in a closed loop (one client:
the next operation starts when the previous one has finished and been
checked) for ``--seconds``.  Every operation's output is checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced operations and prints the per-layer metrics.  The
last line of stdout is the result object; the line before it carries the
raw samples (per-operation times, sample counts, seed, load).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
PACKAGE = "neo4j_graphrag_python_spark"
#: JVM heap: the benchmark inputs are small, and the host is shared
DRIVER_MEM = "2g"
#: a fixed, pre-touched heap: left to grow, the heap's resident size
#: depended on GC timing, and peak RSS varied by 12 % between runs
HEAP_OPTIONS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"


def configure_env(run_dir: Path) -> None:
    """Everything Spark and its Python workers write goes under
    ``run_dir``; workers import the package from this checkout whatever
    the working directory."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(tmp)
    # both JVMs (spark-submit's launcher and the Spark driver): temp files into
    # the run directory, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, str(ROOT))


def start_spark(run_dir: Path, cores: int):
    from neo4j_graphrag_python_spark.session import build_spark

    spark = build_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": HEAP_OPTIONS,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(procs) -> None:
    """End the JVM the session started (it exits when its stdin closes)
    and wait for it and the PySpark daemon and workers under it."""
    from pyspark import SparkContext

    children = procs.pids()[1:]
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    procs.wait_gone(children, timeout=60)


def settle(spark) -> None:
    """Drop the previous operation's caches so every operation starts from
    the same state (outside timed sections)."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class Op:
    """One operation: wall and CPU time of its timed part, its checked
    outcome, or the error it raised."""

    def __init__(self, workload, spark, procs, tracer=None):
        self.outcome, self.error = None, None
        cpu0, t0 = procs.cpu_s(), time.perf_counter()
        try:
            raw = workload.run(spark, tracer)
            self.wall_s = time.perf_counter() - t0
            self.cpu_s = procs.cpu_s() - cpu0
            self.outcome = workload.check(spark, raw)
        # the loop must outlive a failing operation: it is counted and
        # its traceback kept
        except Exception:
            self.error = traceback.format_exc()
            print(self.error, file=sys.stderr)

    @property
    def failed(self) -> bool:
        return self.error is not None or bool(self.outcome.errors)

    def record(self) -> dict:
        if self.error is not None:
            return {"error": self.error.strip().splitlines()[-1]}
        o = self.outcome
        return {
            "wall_s": self.wall_s,
            "cpu_s": self.cpu_s,
            "build_s": o.build_s,
            "rows_in": o.rows_in,
            "fingerprint": o.fingerprint,
            "errors": o.errors,
            **o.info,
        }


def high_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it."""
    n = len(values)
    if n < 20:
        return None
    p = int(100 * (1 - 10 / n))
    return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def bench(args, run_dir: Path) -> tuple[dict, dict]:
    from perfbench import layers
    from perfbench.inputs import Inputs
    from perfbench.procstat import SparkProcesses
    from perfbench.trace import Tracer
    from perfbench.workloads import FUZZY_THRESHOLD, WORKLOADS

    cores = len(os.sched_getaffinity(0))
    load0 = os.getloadavg()[0]
    workload = WORKLOADS[args.workload](Inputs(WORK, args.seed), run_dir)
    procs = SparkProcesses()

    untraced, traced, layer_vals, tracers = [], [], [], []
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, cores)
        workload.warm(spark)
        setup_s = time.perf_counter() - t0
        t_start = time.perf_counter()
        while True:
            settle(spark)
            untraced.append(Op(workload, spark, procs))
            if args.trace and not workload.exhausted():
                settle(spark)
                tracer = Tracer(spark)
                with tracer.patched(workload.traced):
                    op = Op(workload, spark, procs, tracer)
                traced.append(op)
                if op.outcome is not None:
                    if workload.repeats_output and untraced[-1].outcome and (
                        op.outcome.fingerprint != untraced[-1].outcome.fingerprint
                    ):
                        op.outcome.errors.append("traced output differs from untraced")
                    layer_vals.append(
                        layers.measure(spark, tracer, op.outcome, FUZZY_THRESHOLD)
                    )
                tracer.release()
                tracers.append(tracer)
            # measure for --seconds: start another round only if it is
            # expected to end inside the window (the first always runs)
            elapsed = time.perf_counter() - t_start
            if workload.exhausted() or elapsed * (1 + 1 / len(untraced)) > args.seconds:
                break
        peak_rss = procs.peak_rss_mb()
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm(procs)

    ops = untraced + traced
    good = [o for o in untraced if o.outcome is not None]
    failed = sum(o.failed for o in ops)
    if args.trace:
        (WORK / "traces").mkdir(parents=True, exist_ok=True)
        for t in tracers:
            t.dump(WORK / "traces" / f"{args.workload}-seed{args.seed}-{t.run_id}.jsonl")
        metrics = {}
        ok_traced = [o for o in traced if o.outcome is not None]
        for name, unit in layers.catalog():
            vals = [v[name] for v in layer_vals]
            metrics[name] = {"value": statistics.median(vals) if vals else 0.0, "unit": unit}
        t_op = statistics.median([o.wall_s for o in ok_traced]) if ok_traced else 0.0
        u_op = statistics.median([o.wall_s for o in good]) if good else 0.0
        metrics["trace.op_s"]["value"] = t_op
        metrics["trace.untraced_op_s"]["value"] = u_op
        metrics["trace.overhead_s"]["value"] = t_op - u_op
    else:
        def med(f):
            return statistics.median([f(o) for o in good]) if good else 0.0

        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_s": {"value": med(lambda o: o.wall_s), "unit": "s"},
            "build_s": {"value": med(lambda o: o.outcome.build_s), "unit": "s"},
            "cpu_s": {"value": med(lambda o: o.cpu_s), "unit": "CPU-s"},
            "rows_per_s": {
                "value": med(lambda o: o.outcome.rows_in / o.wall_s),
                "unit": "rows/s",
            },
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "loadavg_1m": [load0, os.getloadavg()[0]],
        "setup_s": setup_s,
        "samples": len(good),
        "high_percentile": {
            k: high_percentile([f(o) for o in good])
            for k, f in (("op_s", lambda o: o.wall_s), ("build_s", lambda o: o.outcome.build_s))
        },
        "untraced_ops": [o.record() for o in untraced],
        "traced_ops": [o.record() for o in traced],
    }
    result = {
        "correct": bool(ops) and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["batch", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    run_dir = WORK / f"run-{uuid.uuid4().hex[:12]}"
    try:
        configure_env(run_dir)
        result, detail = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
