"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_search --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the seeded inputs, starts one
Spark session through the package's ``session.get_spark``, sets the
workload up (``setup_s``), drives the workload's closed loop for
``--seconds`` seconds, checks its outputs and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
loop untraced for half the time and traced for the other half and
reports the per-layer metrics plus the tracing overhead. The line
before the result holds the workload's detail metrics by name and
unit. All scratch state lives under ``.perfbench/`` in the working
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from tracing import JvmProbe, Tracer, peak_rss_mb  # noqa: E402

WORKLOADS = ("catalog_search", "catalog_ingest", "corpus_build")
DRIVER_MEMORY = "2g"


def _workload(name: str):
    if name == "catalog_search":
        from wl_search import SearchWorkload

        return SearchWorkload
    if name == "catalog_ingest":
        from wl_ingest import IngestWorkload

        return IngestWorkload
    from wl_corpus import CorpusWorkload

    return CorpusWorkload


def _session(work: str):
    from visual_asset_management_system_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work}/tmp",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _traced(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return call


def _fmt(metrics: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}


def run(args) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    work = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata file in the system temp dir, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    spark = None
    try:
        n_docs = gen.N_BASE_DOCS if args.workload == "corpus_build" else 200
        tables = gen.fixture_tables(args.seed, n_docs)
        fixture = gen.write_fixture(tables, os.path.join(work, "fixture"))
        t0 = time.perf_counter()
        spark = _session(work)
        session_s = time.perf_counter() - t0
        jvm = JvmProbe(spark)
        tracer = Tracer(enabled=False)
        wl = _workload(args.workload)(spark, tracer, work, fixture, tables, args.seed)

        setups = []
        for _ in range(wl.setup_repeats):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        setup_s = statistics.median(setups)
        # untimed operations (a deck of every request kind, or a CDC
        # batch) finish code generation and JIT warm-up before timing
        t0 = time.perf_counter()
        runs = [wl.warm_up()]
        warm_s = time.perf_counter() - t0

        if args.trace:
            # each half gets half the operations, so a traced run takes
            # about as long as an untraced one
            half = max(1, wl.min_ops // 2)
            runs.append(wl.measure(args.seconds / 2, half))
            untraced_ms = wl.metrics(runs[-1])[0]["latency_ms"][0]
            wl.tr = tracer = Tracer(enabled=True, spark=spark)
            patched = [(m, a, getattr(m, a), name) for m, a, name in wl.traced_calls()]
            for m, a, fn, name in patched:
                setattr(m, a, _traced(tracer, fn, name))
            gc0 = jvm.gc_ms()
            try:
                runs.append(wl.measure(args.seconds / 2, half))
            finally:
                for m, a, fn, _ in patched:
                    setattr(m, a, fn)
        else:
            gc0 = jvm.gc_ms()
            runs.append(wl.measure(args.seconds, wl.min_ops))
        gc_ms = jvm.gc_ms() - gc0
        stats = runs[-1]
        e2e, detail = wl.metrics(stats)
        attempted = sum(r["attempted"] for r in runs)
        # a failed output check fails an operation
        t0 = time.perf_counter()
        failed = min(attempted, sum(r["failed"] for r in runs) + wl.check())
        check_s = time.perf_counter() - t0
        common = {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_rss_mb([os.getpid(), jvm.pid]), "MB"),
        }
        detail = {**detail, "error_rate": (failed / attempted, "ratio"),
                  "warmup_s": (warm_s, "s"), "check_s": (check_s, "s")}
        if args.trace:
            n_ops = max(1, stats["attempted"])
            metrics = {
                "session.start_s": (session_s, "s"),
                "spark.jobs_per_op": (tracer.totals("jobs") / n_ops, "count"),
                "spark.tasks_per_op": (tracer.totals("tasks") / n_ops, "count"),
                "jvm.gc_ms_per_op": (gc_ms / n_ops, "ms"),
                "jvm.heap_used_peak_mb": (jvm.heap_peak_mb(), "MB"),
                "trace.overhead_pct": (
                    100 * (e2e["latency_ms"][0] / untraced_ms - 1), "%"),
            }
            detail = {**wl.layer_metrics(), **detail, **e2e, **common}
            tracer.write(os.path.join(os.getcwd(), ".perfbench", "last_trace.jsonl"))
        else:
            metrics = {**common, **e2e}
        print(json.dumps({"workload": args.workload, "detail": _fmt(detail)}), flush=True)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": _fmt(metrics),
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import visual_asset_management_system_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
