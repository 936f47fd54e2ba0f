"""Workload benchmark of the security-analytics engine.

    python3 perfbench/run.py --workload soc_pipeline --seed 1 --seconds 10 --trace 0

Builds the workload's seeded inputs (cached per seed, outside set-up time),
times the program's set-up, drives the workload (its live feed runs for
most of ``--seconds``; searches, the ETL window and requests are fixed op
counts), checks every output untimed, and prints one run record line followed by
the result line (the last line of standard output):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` runs with spans,
job groups and the Spark event log on and reports the per-layer metrics.
The end-to-end metric names are generic so that every workload reports
each of them; the run record also carries each workload's own names (for
example ``search_mean_s`` for ``query_mean_s`` on ``soc_pipeline``).  See
``perfbench/README.md`` for the metric map.  These numbers are not
comparable with ``bench.py``, ``tools/throughput.py`` or
``tools/scale_curve.py``.

The inputs derive from the program's test data,
``sources.registry.DEFAULT_SF_DIR`` (``SPARK_GRAFT_SF_DIR`` chooses
another scale).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "qradar_restapi_kafka_datapipeline_spark"

WORKLOADS = ("soc_pipeline", "corpus_retrieval")

#: BENCHMARK.json's metrics, with units
E2E_UNITS = {"setup_s": "s", "query_mean_s": "s", "batch_s": "s", "freshness_s": "s"}
LAYER_UNITS = {
    "engine.session_start_s": "s",
    "engine.jvm_peak_rss_mb": "MiB",
    "engine.temp_views_end": "count",
    "setup.program_s": "s",
    "spark.jobs_per_op": "count",
    "spark.plan_s": "s",
    "spark.in_job_s": "s",
    "spark.driver_gap_s": "s",
    "spark.bytes_read_per_op": "bytes",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.gc_share": "ratio",
    "tracing.overhead_s": "s",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--max-ops", type=int, default=None,
                   help="cap on the ops of each closed-loop phase (smoke tests)")
    return p.parse_args(argv)


def _stop_spark() -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _nulls(obj):
    """The record with NaN (a metric that could not be measured) as null,
    so the line stays strict JSON."""
    if isinstance(obj, float) and not math.isfinite(obj):
        return None
    if isinstance(obj, dict):
        return {k: _nulls(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_nulls(v) for v in obj]
    return obj


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: program package {PACKAGE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2

    sys.path.insert(0, HERE)
    import common

    paths = common.isolate(ROOT, f"{args.workload}-{args.seed}")
    import importlib

    import inputs as inputs_mod
    import tracing
    from qradar_restapi_kafka_datapipeline_spark.sources.registry import DEFAULT_SF_DIR

    data = DEFAULT_SF_DIR
    if not os.path.isdir(data):
        print(f"perfbench: test-data directory {data} not found", file=sys.stderr)
        shutil.rmtree(paths.run, ignore_errors=True)
        return 2

    load_before = common.loadavg()
    t0 = time.perf_counter()
    inputs = inputs_mod.build(paths.inputs, data, args.workload, args.seed)
    inputs_s = time.perf_counter() - t0

    tracer = tracing.Tracer(enabled=bool(args.trace))
    ctx = common.Ctx(
        paths=paths,
        inputs=inputs,
        seconds=args.seconds,
        tracer=tracer,
        max_ops=args.max_ops,
    )
    module = importlib.import_module(
        {"soc_pipeline": "wl_soc", "corpus_retrieval": "wl_corpus"}[args.workload]
    )
    t_run = time.perf_counter()
    try:
        res = module.run(ctx)
        t_probe = time.perf_counter()
        spark = ctx.sessions[-1]
        if spark.sparkContext._jsc is None:  # a traced run stopped it
            spark = ctx.new_session()
        probe = common.calibration_probe(spark)
        host = common.host_record(ROOT, PACKAGE)
    finally:
        t_stop = time.perf_counter()
        _stop_spark()
    load_after = common.loadavg()
    res.detail["wall_s"] = {
        "start": round(t_run - t_main, 2),
        "workload": round(t_probe - t_run, 2),
        "probe": round(t_stop - t_probe, 2),
        "stop": round(time.perf_counter() - t_stop, 2),
    }

    trace_dir = None
    if args.trace:
        trace_dir = os.path.join(
            paths.work, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}"
        )
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, "spans.json"))
    shutil.rmtree(paths.run, ignore_errors=True)

    if args.trace:
        metrics = {
            k: {"value": res.generic_layers.get(k), "unit": u}
            for k, u in LAYER_UNITS.items()
        }
    else:
        metrics = {k: {"value": res.e2e.get(k), "unit": u} for k, u in E2E_UNITS.items()}
    for m in metrics.values():  # a metric that could not be measured is null
        if not (isinstance(m["value"], (int, float)) and math.isfinite(m["value"])):
            m["value"] = None
    values_ok = all(m["value"] is not None for m in metrics.values())
    if not args.trace:
        values_ok = values_ok and all(m["value"] > 0 for m in metrics.values())
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs_manifest_hash": inputs.hash,
        "inputs_build_s": round(inputs_s, 3),
        "host": host,
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "calibration_probe_s": probe,
        "metrics": res.named,
        "layers": res.layers,
        "detail": res.detail,
        "errors": res.errors,
        "trace_dir": trace_dir,
    }
    print(json.dumps({"record": _nulls(record)}, default=str))
    print(
        json.dumps(
            {
                "correct": res.failed == 0 and values_ok,
                "attempted": max(res.attempted, 1),
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
