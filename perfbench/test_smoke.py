"""Smoke tests of the workload benchmark: a few ops per workload on the
smallest test data.

    python3 -m pytest perfbench/test_smoke.py -q

They run ``perfbench/run.py`` in a subprocess from the checkout root, as
``BENCHMARK.json``'s command does, and check the result line, every metric key (end-to-end and
per-layer), that every output check ran and passed, seed determinism of
the inputs, and that the benchmark refuses to run without the program.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run as bench  # noqa: E402
from qradar_restapi_kafka_datapipeline_spark.sources.registry import (  # noqa: E402
    DEFAULT_SF_DIR,
)

TESTDATA = os.path.dirname(DEFAULT_SF_DIR)

#: the test data each workload's smoke run uses: the raw-event searches
#: match almost no events at sf0.001, so soc_pipeline runs at sf0.01
SMOKE_DATA = {"soc_pipeline": "sf0.01", "corpus_retrieval": "sf0.001"}

#: ops per phase: one block of corpus_retrieval's request mix, so every
#: sampled check has a request to check
MAX_OPS = {"soc_pipeline": 5, "corpus_retrieval": 6}

#: each workload's own end-to-end metrics, as the run record names them
NAMED = {
    "soc_pipeline": {
        "setup_s", "search_mean_s", "search_p50_s", "search_tail_s", "etl_window_s",
        "ingest_freshness_mean_s", "ingest_freshness_p50_s", "ingest_freshness_tail_s",
        "ingest_drain_events_per_s", "rollup_read_p50_s",
    },
    "corpus_retrieval": {"setup_s", "retrieve_mean_s", "retrieve_p50_s", "retrieve_tail_s",
                         "maintenance_s"},
}

#: the per-layer ledger each traced workload must report
LAYERS = {
    "soc_pipeline": {
        "plans.aql.translate_s", "plans.rollup_router.route_hit_ratio", "spark.plan_s",
        "spark.jobs_per_search", "spark.driver_gap_s", "engine.temp_views_end",
        "spark.in_job_s", "spark.files_read_per_search", "spark.bytes_read_per_search",
        "pipeline.unit_s", "operators.rollup.merge_s",
        "operators.rollup.bytes_written_per_window",
        "stream.trigger_s", "stream.add_batch_s", "stream.latest_offset_s",
        "stream.get_batch_s", "stream.wal_commit_s", "stream.commit_offsets_s",
        "stream.input_rows_per_event", "stream.empty_triggers",
        "operators.txn_rollup.days_touched_per_merge",
        "operators.txn_rollup.bytes_written_per_event", "spark.shuffle_bytes_per_event",
        "operators.txn_rollup.read_s", "sources.backlog_files_max",
        "gen.lateness_s_max", "operators.rollup.collapse_ratio",
        "engine.session_start_s", "sources.qevents_materialize_s", "views.materialize_s",
        "engine.jvm_peak_rss_mb", "spark.gc_share", "tracing.overhead_s",
    },
    "corpus_retrieval": {
        "operators.text.knn_serve_s", "operators.text.hybrid_serve_s",
        "operators.similarity.ivfpq_serve_s", "spark.jobs_per_request",
        "spark.driver_gap_s", "engine.artifact_files",
        "operators.dedup.incremental_dedup_s", "operators.dedup.kept_ratio",
        "operators.text.append_s", "operators.similarity.append_s",
        "operators.text.delete_s", "operators.text.compact_s",
        "engine.session_start_s", "operators.text.build_s",
        "operators.similarity.build_s", "engine.jvm_peak_rss_mb", "spark.gc_share",
        "tracing.overhead_s",
    },
}


def run_bench(workload: str, seed: int, trace: int, data: str, cwd: str = ROOT,
              seconds: int = 2):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace),
         "--max-ops", str(MAX_OPS[workload])],
        cwd=cwd, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": os.path.join(TESTDATA, data)},
    )


def parse(out) -> tuple[dict, dict]:
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["record"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_run_reports_every_metric_and_passes_its_checks(workload, trace):
    res, rec = parse(run_bench(workload, 1, trace, SMOKE_DATA[workload]))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    units = bench.LAYER_UNITS if trace else bench.E2E_UNITS
    assert {k: m["unit"] for k, m in res["metrics"].items()} == units
    for m in res["metrics"].values():
        assert isinstance(m["value"], (int, float))
    assert res["failed"] == 0 and res["correct"], rec["errors"]
    assert set(rec["metrics"]) == NAMED[workload]
    for m in rec["metrics"].values():
        assert m["unit"]
    if trace:
        assert set(rec["layers"]) >= LAYERS[workload]
    for key in ("nproc", "SPARK_GRAFT_CPUS", "pyspark", "git_commit"):
        assert key in rec["host"]
    assert rec["calibration_probe_s"] > 0
    assert len(rec["loadavg_before"]) == len(rec["loadavg_after"]) == 3
    checks = rec["detail"]["checks"]
    assert checks and all(n > 0 for n in checks.values()), checks


def test_feed_spans_a_compacted_source_log():
    """Spark logs every tenth micro-batch of the file source only to a
    ``.compact`` file; a live phase of more than ten batches must still
    find the batch that folded each file."""
    res, rec = parse(run_bench("soc_pipeline", 2, 0, SMOKE_DATA["soc_pipeline"],
                               seconds=20))
    assert rec["detail"]["live_triggers"] > 10, rec["detail"]
    assert res["correct"], rec["errors"]
    assert rec["detail"]["checks"]["feed_files_committed"] == rec["detail"]["live_files"]


@pytest.mark.xfail(strict=True, reason=(
    "program defect: Pipeline.run_all raises UNABLE_TO_INFER_SCHEMA when a "
    "(customer, search) pair has no rows in its first window"))
def test_etl_on_sparse_events():
    res, rec = parse(run_bench("soc_pipeline", 1, 0, "sf0.001"))
    assert res["correct"], rec["errors"]


def test_inputs_are_a_function_of_the_seed(tmp_path):
    import inputs

    for workload, data in SMOKE_DATA.items():
        data_dir = os.path.join(TESTDATA, data)
        a = inputs.build(str(tmp_path / "a"), data_dir, workload, 7).hash
        b = inputs.build(str(tmp_path / "b"), data_dir, workload, 7).hash
        c = inputs.build(str(tmp_path / "c"), data_dir, workload, 8).hash
        assert a == b != c, workload


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = run_bench("corpus_retrieval", 1, 0, "sf0.001", cwd=str(tmp_path))
    assert out.returncode != 0
    assert not out.stdout.strip()
