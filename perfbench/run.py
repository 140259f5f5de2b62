"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the repository root. It builds its inputs from ``--seed``, sets
up (session start, input generation and memo-cache fill, five times; the
median is ``setup_s``), warms up, measures for ``--seconds`` and at least
two batch passes or three stream rounds, checks the outputs outside the
timed region, and prints two JSON lines: a detail record (host stamp,
checks, the workload's own named figures) and, last, the result. With
``--trace 0`` the result's metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, from
a run that records spans around every call into the package.
``--smoke`` shrinks every input so all workloads finish quickly.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_pipeline_with_spark_kafka_spark"

# Input sizes: the measured profile, and a tiny one for the smoke test.
SIZES = {
    "full": {
        "train_sf": 0.002, "train_iters": 2, "cluster_iters": 1,
        "warm_rounds": 2,
        "ingest_rows": 200, "ingest_locations": 50, "ingest_fpt": 16, "ingest_chunk": 4,
        "session_rows": 200, "session_users": 2000,
    },
    "smoke": {
        "train_sf": 0.001, "train_iters": 2, "cluster_iters": 1,
        "warm_rounds": 1,
        "ingest_rows": 60, "ingest_locations": 10, "ingest_fpt": 4, "ingest_chunk": 2,
        "session_rows": 100, "session_users": 100,
    },
}

# name -> unit, for every metric BENCHMARK.json lists.
END_TO_END = {"setup_s": "s", "pass_s": "s", "latency_p50_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "operators.train_quality_s": "s", "operators.cluster_s": "s", "operators.curate_s": "s",
    "operators.cc_s": "s", "operators.cc_jobs": "count",
    "spark.plan_s": "s", "spark.exec_s": "s", "spark.jobs": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "sources.parse_rejected_rows": "count",
    "stream.addBatch_ms": "ms", "stream.queryPlanning_ms": "ms", "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms", "stream.latestOffset_ms": "ms", "stream.triggers": "count",
    "state.rows_total": "count", "state.memory_bytes": "bytes", "state.commit_ms": "ms",
    "state.update_ms": "ms", "state.rows_dropped_by_watermark": "count",
    "stateful.keys_per_batch": "count", "stateful.ms_per_key": "ms",
    "sinks.upsert_s": "s", "sinks.target_rows": "count", "sinks.bytes_written": "bytes",
    "gen.lateness_p90_s": "s", "trace.overhead_s": "s",
    "self.harness_s": "s", "self.queries_s": "s", "self.operators_s": "s", "self.spark_s": "s",
    "self.streaming_s": "s", "self.stateful_s": "s", "self.sinks_s": "s",
}
# The workload's own figures, named as in its description (detail line).
NAMED = {
    "batch_train": {"train_pass_s": ("pass_s", "s"), "cc_query_p50_s": ("latency_p50_s", "s")},
    "stream": {"round_drain_s": ("pass_s", "s"), "ingest_latency_p50_s": ("latency_p50_s", "s")},
}


@dataclass
class Ctx:
    work: str
    seed: int
    seconds: float
    tracer: object
    profile: str

    def size(self, key: str):
        return SIZES[self.profile][key]


def workloads():
    from perfbench import batch, stream

    return {
        "batch_train": batch.batch_train,
        "stream": stream.stream,
    }


def result(out, trace: bool) -> dict:
    from perfbench.harness import median

    if trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers["session.start_s"] = median(out.session_start)
        layers["session.peak_rss_mb"] = out.detail["peak_rss_mb"]
        layers.update({k: v for k, v in out.layers.items() if k in PER_LAYER})
        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        values = {"setup_s": median(out.setup_rounds), **out.e2e}
        metrics = {k: {"value": float(values.get(k, float("nan"))), "unit": unit}
                   for k, unit in END_TO_END.items()}
    out.detail["pass_samples"] = len(out.pass_s)
    out.detail["pass_s_all"] = [round(x, 3) for x in out.pass_s]
    out.detail["setup_rounds_s"] = [round(x, 3) for x in out.setup_rounds]
    return {
        "correct": all(out.checks.values()) and out.failed == 0,
        "attempted": max(1, out.attempted),
        "failed": out.failed,
        "metrics": metrics,
    }


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(NAMED))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs (sf0.001, short streams)")
    args = p.parse_args(argv)
    # A run that hangs must still end inside the harness's 180 s window,
    # with the stacks that show where it stopped.
    faulthandler.dump_traceback_later(170, exit=True)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_compare.py")
    ):
        print(f"{PACKAGE}/ or tests/oracle_compare.py missing under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench.harness import Outcome, Tracer, configure_host, cpu_probe_s

    work = os.path.join(HERE, "_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    stamp = configure_host(work)
    ctx = Ctx(work, args.seed, args.seconds, Tracer(bool(args.trace)), "smoke" if args.smoke else "full")
    out = Outcome()
    t0 = time.perf_counter()
    try:
        workloads()[args.workload](ctx, out)
        out.mark("workload")
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    out.mark("exit")
    res = result(out, bool(args.trace))
    stamp["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    stamp["cpu_probe_end_s"] = cpu_probe_s()
    named = {k: {"value": res["metrics"][src]["value"], "unit": unit}
             for k, (src, unit) in NAMED[args.workload].items() if src in res["metrics"]}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "profile": ctx.profile, "host": stamp, "wall_s": round(time.perf_counter() - t0, 3),
        "error_rate": out.failed / max(1, out.attempted), "named": named,
        "checks": out.checks, "detail": out.detail,
    }, default=str))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
