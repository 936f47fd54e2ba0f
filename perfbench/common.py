"""Shared pieces of the workload benchmark: run-directory isolation, the
Spark session, summary statistics, the run record and result hashing.

Nothing here runs on import; ``run.py`` calls :func:`isolate` before the
program or PySpark is imported, so every file the run writes (Spark local
dirs, scratch parquet, index artifacts, temp files) lands under the
checkout's ``.perfbench_work/`` directory.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

#: number of samples a tail percentile must leave above it
TAIL_BEYOND = 10


@dataclass
class Paths:
    """Where one run reads and writes, all below the checkout root."""

    root: str
    work: str
    run: str
    inputs: str

    @property
    def tmp(self) -> str:
        return os.path.join(self.run, "tmp")


def isolate(root: str, tag: str) -> Paths:
    """Point every writer of the process at ``<root>/.perfbench_work``.

    Must run before PySpark or the program is imported: the program reads
    ``SPARK_GRAFT_ARTIFACT_ROOT`` at import time and ``tempfile`` caches
    ``TMPDIR`` on first use."""
    work = os.path.join(root, ".perfbench_work")
    run = os.path.join(work, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    paths = Paths(root, work, run, os.path.join(work, "inputs"))
    for d in (paths.tmp, paths.inputs, os.path.join(run, "spark-local")):
        os.makedirs(d, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update(
        {
            "TMPDIR": paths.tmp,
            "SPARK_GRAFT_ARTIFACT_ROOT": os.path.join(run, "artifacts"),
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_LOCAL_DIRS": os.path.join(run, "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": "3g",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TZ": "UTC",
        }
    )
    time.tzset()
    if root not in sys.path:
        sys.path.insert(0, root)
    return paths


def spark_conf(paths: Paths, event_log: bool) -> dict[str, str]:
    """Session settings the benchmark passes through ``get_spark``."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(paths.run, "warehouse"),
        "spark.local.dir": os.path.join(paths.run, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={paths.tmp} -Dderby.system.home={paths.tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(paths.run, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def start_session(paths: Paths, event_log: bool):
    """Start (or restart) the program's SparkSession; returns it."""
    from qradar_restapi_kafka_datapipeline_spark import get_spark

    spark = get_spark(
        app_name="perfbench", extra_conf=spark_conf(paths, event_log)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- statistics ----------------------------------------------------------------


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def mean(values: list[float]) -> float:
    return float(statistics.fmean(values)) if values else 0.0


def tail(values: list[float], min_ops: int, beyond: int = TAIL_BEYOND) -> dict:
    """Tail latency at a percentile fixed by the workload's minimum op
    count: the highest percentile that leaves ``beyond`` samples above it
    when exactly ``min_ops`` ops ran (fixed per workload, so it is the same
    on every run).  Nearest rank.  When that percentile would not exceed
    the median, there is no tail to report and the value is None."""
    s = sorted(values)
    if min_ops < 2 * beyond or not s:
        return {"value": None, "percentile": None, "samples": len(s), "beyond": None}
    pct = 100.0 * (min_ops - beyond) / min_ops
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return {"value": s[rank - 1], "percentile": round(pct, 2),
            "samples": len(s), "beyond": len(s) - rank}


# -- result hashing ------------------------------------------------------------


def _norm_value(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy / pandas scalars from DuckDB
        return _norm_value(v.item())
    if isinstance(v, (list, tuple)):
        return [_norm_value(x) for x in v]
    return v


def rows_digest(rows) -> str:
    """Order-insensitive digest of a result: each row's values normalized
    (floats to 6 places, timestamps as naive UTC text), rows sorted."""
    keys = sorted(json.dumps([_norm_value(v) for v in r], default=str) for r in rows)
    h = hashlib.sha256()
    for k in keys:
        h.update(k.encode())
        h.update(b"\n")
    return f"{len(keys)}:{h.hexdigest()[:16]}"


def planning_or_none(df) -> float | None:
    """Spark's planning phases for an executed DataFrame, or None when the
    (internal) tracker is unavailable."""
    from tracing import planning_s

    try:
        return planning_s(df)
    except Exception:  # internal API: a miss leaves a gap, not a failure
        return None


def duck_view(name: str, parquet_path: str) -> str:
    """DuckDB statement registering ``parquet_path`` as view ``name``."""
    quoted = parquet_path.replace("'", "''")
    return f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{quoted}')"


# -- run record ----------------------------------------------------------------


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def calibration_probe(spark) -> float:
    """A fixed no-I/O generate → hash-aggregate → sort job (a smaller cut of
    the repository bench's probe); min of 2.  Its time tracks host speed
    only, so runs on a busy host can be told apart."""
    best = math.inf
    for _ in range(2):
        t0 = time.perf_counter()
        (
            spark.range(0, 100_000, 1, 4)
            .selectExpr("id % 9973 AS k", "id * 2654435761 % 1000003 AS v")
            .groupBy("k")
            .agg({"v": "sum", "*": "count"})
            .orderBy("k")
            .collect()
        )
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def git_commit(root: str) -> str | None:
    """The checkout's commit, when it is a git work tree."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def program_digest(root: str, package: str) -> str:
    """Digest of the program's sources: tells versions apart in a checkout
    that is not a git work tree."""
    h = hashlib.sha256()
    base = os.path.join(root, package)
    for dirpath, dirnames, files in sorted(os.walk(base)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, base).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def host_record(root: str, package: str) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_commit": git_commit(root),
        "program_digest": program_digest(root, package),
    }


def jvm_peak_rss_mb(spark) -> float | None:
    """Peak resident set of the driver JVM (VmHWM), in MiB."""
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return round(int(line.split()[1]) / 1024.0, 1)
    except (OSError, AttributeError):
        return None
    return None


_RESULT_LOCK = threading.Lock()


@dataclass
class Result:
    """What a workload hands back to ``run.py``."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    #: generic end-to-end metrics (the names BENCHMARK.json lists)
    e2e: dict[str, float] = field(default_factory=dict)
    #: the workload's own named metrics, with units
    named: dict[str, dict] = field(default_factory=dict)
    #: the workload's own per-layer ledger of a traced run
    layers: dict[str, float] = field(default_factory=dict)
    #: the per-layer metrics every workload reports (BENCHMARK.json)
    generic_layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        with _RESULT_LOCK:
            self.failed += n
            if len(self.errors) < 20:
                self.errors.append(what)

    def attempt(self, n: int = 1) -> None:
        with _RESULT_LOCK:
            self.attempted += n

    def name(self, key: str, value, unit: str, **extra) -> None:
        self.named[key] = {"value": value, "unit": unit, **extra}


@dataclass
class Ctx:
    """Everything a workload needs from ``run.py``."""

    paths: Paths
    inputs: object  # inputs.Inputs
    seconds: float
    tracer: object  # tracing.Tracer
    #: smoke-test cap on the ops of each closed-loop phase
    max_ops: int | None = None
    sessions: list = field(default_factory=list)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def new_session(self):
        """(Re)start the SparkSession.  Old session objects stay referenced
        so the program's per-session memos, keyed by ``id(spark)``, can
        never see a recycled id (a traced run restarts it for the probe)."""
        if self.sessions:
            self.sessions[-1].stop()
        spark = start_session(self.paths, event_log=self.traced)
        self.sessions.append(spark)
        self.tracer.sc = spark.sparkContext
        return spark

    def timed_setup(self, setup_once):
        """Start the session and run ``setup_once(spark)``; returns (its
        result, set-up seconds, the session start's share of them)."""
        t0 = time.perf_counter()
        with self.tracer.span("engine.session_start", new_request=True):
            spark = self.new_session()
        t1 = time.perf_counter()
        state = setup_once(spark)
        return state, time.perf_counter() - t0, t1 - t0

    def cap(self, ops: int) -> int:
        """A closed-loop phase's fixed op count, capped by ``max_ops``."""
        return ops if self.max_ops is None else min(ops, self.max_ops)
