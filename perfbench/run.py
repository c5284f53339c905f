"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: reorder_deep, reorder_avro_keyed, batch_mix (see README.md).
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` the per-layer
metrics, and writes the spans to ``perfbench_out/``. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}; the lines
before it list every metric with its unit and sample count.

Everything the run writes stays under the checkout: inputs, checkpoints and
sinks in ``.perfbench_work/`` (removed at exit), traces in ``perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "kafka_streams_reorder_timestamp_spark"
CPUS = "4"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full", help="tiny: the self-test's sizes")
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Set before the JVM starts: Python workers import the package from the
    checkout, and Spark's scratch space stays inside it."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def _start_session(work: str):
    from kafka_streams_reorder_timestamp_spark.session import get_spark

    # Only locations and console output differ from the program's own
    # session; memory and SQL settings are left as the program sets them.
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # HotSpot writes its perf-data file under /tmp whatever the tmpdir.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Dderby.system.home={work} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    from perfbench.procs import descendants

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{pid}") for pid in children):
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _report(outcome, traced: bool) -> dict:
    from perfbench.metrics import E2E, LAYERS, UNITS

    metrics = outcome.layers if traced else outcome.e2e
    if traced:
        metrics.set("error_rate", outcome.failed / max(1, outcome.attempted), max(1, outcome.attempted))
    names = [name for name, _, _ in (LAYERS if traced else E2E) if name in metrics.values]
    for name in names:
        value, n = metrics.values[name]
        print(f"{name:44s} {value:16.6g} {UNITS[name]:10s} n={n}")
    if not traced:
        print(f"{'error_rate':44s} {outcome.failed / max(1, outcome.attempted):16.6g} {'ratio':10s} n={outcome.attempted}")
    for err in outcome.errors:
        print(f"error: {err}")
    return {
        "correct": outcome.failed == 0,
        "attempted": max(1, outcome.attempted),
        "failed": outcome.failed,
        "metrics": {name: {"value": metrics.values[name][0], "unit": UNITS[name]} for name in names},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.procs import ProcSampler
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    trace_id = f"{args.workload}-seed{args.seed}-{int(time.time())}"
    tracer = Tracer(trace_id, enabled=bool(args.trace))
    spark = None
    try:
        with ProcSampler() as sampler:
            t0 = time.time()
            start = time.perf_counter()
            spark = _start_session(work)
            session_s = time.perf_counter() - start
            tracer.add("session.start", t0, t0 + session_s)
            ctx = workloads.Context(spark, work, args.seed, args.seconds, args.scale, tracer, sampler, session_s, bool(args.trace))
            with tracer.span("workload", workload=args.workload):
                if args.workload == "batch_mix":
                    outcome = workloads.run_batch(ctx)
                else:
                    outcome = workloads.run_stream(ctx, args.workload)
            _stop_session(spark)
            spark = None
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = _report(outcome, bool(args.trace))
    if args.trace:
        out_dir = os.path.join(ROOT, "perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{trace_id}.json")
        tracer.dump(path, {"workload": args.workload, "seed": args.seed, "e2e": outcome.e2e.values, "layers": outcome.layers.values})
        print(f"spans: {path}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
