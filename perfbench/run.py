"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object with
the keys correct, attempted, failed and metrics: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is a summary with the error rate, the p90 sample count, the failures and (on
the traced run) the end-to-end numbers, so the tracing overhead can be read
off. The exit code is 0 only when no operation raised and every output
check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the checkout root, not this script's directory, leads the import path
sys.path[0] = ROOT

WORKLOADS = ("analytics_mix", "vector_ingest")
WATCHDOG_S = 150  # a run must end within 180 s, stopping the JVM included


class Watchdog(BaseException):
    """Raised when the run overstays WATCHDOG_S; not an ``Exception``, so
    operation wrappers do not swallow it."""


@dataclass
class Context:
    seed: int
    work: str
    rng: object
    tracer: object
    spark: object = None
    loop: object = None
    event_log: dict | None = None


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp"
        ),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def _instrument(tracer) -> None:
    """Spans around the calls one engine layer makes into another."""
    from opengauss_vectordb_spark import engine
    from opengauss_vectordb_spark.plans.ann_rewrite import AnnCatalog
    from opengauss_vectordb_spark.vector.hnsw import HnswIndex
    from opengauss_vectordb_spark.vector.ivf import IvfIndex

    from perfbench.trace import wrap_method

    wrap_method(tracer, engine, "register_views", "catalog.register_views")
    wrap_method(tracer, IvfIndex, "build", "ivf.build")
    wrap_method(tracer, IvfIndex, "search", "ivf.search")
    wrap_method(tracer, HnswIndex, "build", "hnsw.build")
    wrap_method(tracer, HnswIndex, "search", "hnsw.search")
    wrap_method(tracer, AnnCatalog, "topk", "ann_rewrite.topk")


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    t_start = time.perf_counter()
    try:
        import numpy as np

        import opengauss_vectordb_spark  # noqa: F401 - the program under test
        from opengauss_vectordb_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return _run(args, work, t_start, np, get_spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, t_start, np, get_spark) -> int:
    from perfbench import analytics, harness, layers, trace, vectors

    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the engine; every temporary file stays in `work`
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    def on_alarm(_sig, _frame):
        raise Watchdog(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(WATCHDOG_S)

    tracer = trace.Tracer() if args.trace else trace.NullTracer()
    ctx = Context(args.seed, work, np.random.default_rng(args.seed), tracer)
    wl_cls = analytics.AnalyticsMix if args.workload == "analytics_mix" else vectors.VectorIngest
    wl = wl_cls(ctx)
    ctx.loop = harness.Loop(args.workload, tracer)
    spark = None
    try:
        wl.generate()
        cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
            shuffle_partitions=cores, extra_conf=_spark_conf(work, bool(args.trace)),
        )
        session_s = time.perf_counter() - t0
        ctx.spark = spark
        if args.trace:
            tracer._spark = spark
            _instrument(tracer)
        wl.setup()
        setup_s = time.perf_counter() - t_start

        wall_s = harness.run_for(args.seconds, wl.step)
        wl.check()

        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        jvm_mb = harness.rss_peak_mb(jvm_pid)
        driver_mb = harness.rss_peak_mb()
        summary = harness.summarize(ctx.loop, wall_s, setup_s, jvm_mb + driver_mb)
    except harness.JvmDied as exc:
        print(json.dumps({"workload": args.workload, "jvm_died_during": str(exc)}))
        print(f"perfbench: the JVM died during operation {exc}", file=sys.stderr)
        return 3
    except Watchdog as exc:
        running = ctx.loop.ops[-1].op_id if ctx.loop.ops else "set-up"
        print(f"perfbench: {exc}; running: {running}", file=sys.stderr)
        return 4
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop(spark)

    if args.trace:
        # task metrics reach the event log only once the session has stopped
        ctx.event_log = trace.read_event_log(
            os.path.join(work, "eventlog"), set(tracer.op_counts))
        per_layer = layers.collect(ctx, wl, session_s, cores, jvm_mb, driver_mb)
        tracer.write(os.path.join(ROOT, ".perfbench_work",
                                  f"spans-{args.workload}-{args.seed}.json"))

    report = {k: v for k, v in summary.items() if k != "metrics"}
    report["workload"] = args.workload
    report["first_failure"] = summary["failures"][0] if summary["failures"] else None
    report["failures"] = summary["failures"][:10]
    if args.trace:
        report["traced_end_to_end"] = summary["metrics"]
        metrics, units = per_layer, layers.UNITS
    else:
        metrics, units = summary["metrics"], harness.E2E_UNITS
    print(json.dumps(report))
    print(harness.result_line(summary["correct"], summary["attempted"], summary["failed"],
                              metrics, units))
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
