"""The Kafka feed of ``soc_pipeline``: events folding into the hourly
roll-up while a dashboard reads it, then a backfill.

Live: an open-loop generator thread writes one seeded ``RAW_EVENT_DDL``
batch file into a ``FileKafkaFake`` topic every ``LIVE_PERIOD_S`` seconds
(event times follow the run clock, a fixed share arrives late, the Kafka
``timestamp`` carries the creation stamp).  The chain ``read_stream ->
normalize -> streaming_rollup_txn`` runs with a short processing-time
trigger.  A file's freshness is the time from when it was due to when the
micro-batch that folded it committed to the roll-up table.  One
closed-loop reader aggregates ``TxnRollupTable.read()`` meanwhile.

Backfill: a fixed backlog is produced first, then drained with an
``availableNow`` trigger into a fresh table.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

from common import Result, median, rows_digest

TRIGGER = "250 milliseconds"
LIVE_TOPIC = "live"
BACKFILL_TOPIC = "backfill"


@dataclass
class Feed:
    base: str
    fake: object = None
    stream_start_s: float = 0.0
    produced: list[dict] = field(default_factory=list)
    totals: dict = field(default_factory=dict)
    reads: list[dict] = field(default_factory=list)
    freshness: list[float] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)
    bf_progress: list[dict] = field(default_factory=list)
    bf_fake: object = None
    bf_events: int = 0
    drain_s: float = float("nan")
    live_wall_s: float = 0.0

    @property
    def table(self) -> str:
        return f"{self.base}/table_{LIVE_TOPIC}"

    @property
    def bf_table(self) -> str:
        return f"{self.base}/backfill/table_{BACKFILL_TOPIC}"


def _start_fold(spark, base: str, topic: str, available_now: bool):
    from qradar_restapi_kafka_datapipeline_spark.operators.normalize import normalize
    from qradar_restapi_kafka_datapipeline_spark.operators.txn_rollup import (
        streaming_rollup_txn,
    )
    from qradar_restapi_kafka_datapipeline_spark.sources.kafka_fake import FileKafkaFake

    fake = FileKafkaFake(f"{base}/kafka")
    os.makedirs(os.path.join(fake.root, topic), exist_ok=True)
    query = streaming_rollup_txn(
        normalize(fake.read_stream(spark, topic)),
        f"{base}/table_{topic}",
        f"{base}/checkpoint_{topic}",
        available_now=available_now,
        processing_time=TRIGGER,
    )
    return fake, query


def feed_phase(ctx, res: Result, spark, live_seconds: float) -> Feed:
    """Start the stream and fold one warm-up batch, then run the live feed
    and the backfill."""
    from pyspark import inheritable_thread_target
    from pyspark.sql import functions as F

    from inputs import LIVE_PERIOD_S, feed_records
    from qradar_restapi_kafka_datapipeline_spark.operators.txn_rollup import TxnRollupTable

    tr = ctx.tracer
    feed = Feed(os.path.join(ctx.paths.run, "feed"))
    pool = ctx.inputs.load("pool.json")
    live = ctx.inputs.load("live.json")
    n_files = min(max(1, int(live_seconds / LIVE_PERIOD_S)), len(live))

    t0 = time.perf_counter()
    with tr.span("sources.stream_start", new_request=True):
        feed.fake, query = _start_fold(spark, feed.base, LIVE_TOPIC, available_now=False)
        _wait_ready(query)
    feed.stream_start_s = time.perf_counter() - t0
    # one untimed batch first: the stream's first fold pays one-off JVM
    # warm-up that no later batch pays
    warmup = feed_records(pool, ctx.inputs.load("warmup.json"))
    feed.fake.produce(LIVE_TOPIC, warmup, timestamp="2024-02-01 00:00:00")
    query.processAllAvailable()

    totals = feed.totals
    totals.update(events=len(warmup), event_count=sum(r["eventCount"] for r in warmup))
    lock = threading.Lock()
    drained = threading.Event()

    def generator():
        t_first = time.time() + 0.05
        for b in range(n_files):
            due = t_first + b * LIVE_PERIOD_S
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            recs = feed_records(pool, live[b])
            stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")
            with tr.span("gen.produce", new_request=True):
                feed.fake.produce(LIVE_TOPIC, recs, timestamp=stamp)
            now = time.time()
            with lock:
                feed.produced.append({"due": due, "at": now, "events": len(recs)})
                totals["events"] += len(recs)
                totals["event_count"] += sum(r["eventCount"] for r in recs)

    def reader():
        i = 0
        while not drained.is_set():
            # traced runs alternate traced and untraced reads: the
            # difference of their medians is the tracing overhead
            traced = ctx.traced and i % 2 == 1
            i += 1
            t_read = time.perf_counter()
            with tr.span("operators.txn_rollup.read", new_request=True) if traced \
                    else tr.off():
                df = TxnRollupTable(spark, feed.table).read()
                row = df.agg(F.sum("Event_Count")).collect()[0]
            dt_s = time.perf_counter() - t_read
            with lock:
                ceiling = totals["event_count"]
            feed.reads.append({"s": dt_s, "total": row[0] or 0, "ceiling": ceiling,
                               "traced": traced})

    threads = [threading.Thread(target=inheritable_thread_target(f), name=f.__name__)
               for f in (generator, reader)]
    t_live = time.perf_counter()
    for t in threads:
        t.start()
    threads[0].join(timeout=live_seconds + 120)
    query.processAllAvailable()
    drained.set()
    threads[1].join(timeout=120)
    feed.live_wall_s = time.perf_counter() - t_live
    feed.progress = [json.loads(p.json) for p in query.recentProgress]
    query.stop()

    # freshness: due time of each file -> commit of the batch that folded it
    batch_of = _file_batches(f"{feed.base}/checkpoint_{LIVE_TOPIC}")
    commit_at = _commit_times(feed.table)
    for b, p in enumerate(feed.produced):
        name = f"batch-{b + 1:08d}.jsonl"  # file 0 is the warm-up batch
        epoch = batch_of.get(name)
        res.attempted += 1
        if epoch is None or epoch not in commit_at:
            res.fail(f"file {name} was never committed")
            continue
        p["commit"] = commit_at[epoch]
        feed.freshness.append(commit_at[epoch] - p["due"])

    # backfill: produce the backlog, then drain it
    from qradar_restapi_kafka_datapipeline_spark.sources.kafka_fake import FileKafkaFake

    bf_base = f"{feed.base}/backfill"
    feed.bf_fake = FileKafkaFake(f"{bf_base}/kafka")
    for batch in ctx.inputs.load("backfill.json"):
        recs = feed_records(pool, batch)
        feed.bf_fake.produce(BACKFILL_TOPIC, recs, timestamp="2024-02-01 00:00:00")
        feed.bf_events += len(recs)
    res.attempted += 1
    t0 = time.perf_counter()
    with tr.span("op.backfill", new_request=True):
        _, bf_query = _start_fold(spark, bf_base, BACKFILL_TOPIC, available_now=True)
        bf_query.awaitTermination(timeout=150)
    feed.drain_s = time.perf_counter() - t0
    feed.bf_progress = [json.loads(p.json) for p in bf_query.recentProgress]
    if bf_query.isActive:
        bf_query.stop()
        res.fail("backfill did not drain within 150 s")
    elif bf_query.exception() is not None:
        res.fail(f"backfill failed: {bf_query.exception()}"[:300])
    return feed


def _wait_ready(query, timeout: float = 60) -> None:
    """Block until the stream has started and waits for data."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if not query.isActive:
            raise RuntimeError(f"stream stopped: {query.exception()}")
        if query.status.get("message", "").startswith("Waiting"):
            return
        time.sleep(0.01)
    raise TimeoutError("stream did not start")


def _file_batches(checkpoint: str) -> dict[str, int]:
    """Produced file name -> micro-batch id, from the file source's log.

    Every tenth batch (``spark.sql.streaming.fileSource.log.compactInterval``)
    is logged only to ``<n>.compact``, which repeats the entries of the
    batches before it; each entry carries its own ``batchId``."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        name = os.path.basename(path)
        if not name.removesuffix(".compact").isdigit():
            continue
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _commit_times(table_path: str) -> dict[int, float]:
    """Streaming epoch -> wall time its roll-up commit was published."""
    out: dict[int, float] = {}
    for path in glob.glob(os.path.join(table_path, "_commits", "*.json")):
        with open(path) as f:
            payload = json.load(f)
        if payload.get("epoch") is not None:
            out[int(payload["epoch"])] = os.stat(path).st_mtime
    return out


def check(res: Result, spark, feed: Feed) -> dict:
    """Both roll-up tables equal summing_rollup(normalize(raw)) over every
    record produced; every dashboard total is monotone and never exceeds
    what was produced.  Returns the check counts."""
    live_rows = _check_table(res, spark, feed.fake, LIVE_TOPIC, feed.table, "live")
    _check_table(res, spark, feed.bf_fake, BACKFILL_TOPIC, feed.bf_table, "backfill")
    last = 0
    res.attempt(len(feed.reads))
    for r in feed.reads:
        if r["total"] < last or r["total"] > r["ceiling"]:
            res.fail(f"dashboard read total {r['total']} (previous {last}, "
                     f"produced {r['ceiling']})")
        last = max(last, r["total"])
    feed.totals["table_rows"] = live_rows
    return {
        "feed_tables_vs_rollup_of_raw": 2,
        "feed_files_committed": len(feed.freshness),
        "dashboard_reads_bounded_monotone": len(feed.reads),
    }


def _check_table(res: Result, spark, fake, topic: str, table_path: str, what: str) -> int:
    from qradar_restapi_kafka_datapipeline_spark.operators.normalize import normalize
    from qradar_restapi_kafka_datapipeline_spark.operators.rollup import summing_rollup
    from qradar_restapi_kafka_datapipeline_spark.operators.txn_rollup import TxnRollupTable
    from qradar_restapi_kafka_datapipeline_spark.sources.ingest import parse_kafka_values
    from qradar_restapi_kafka_datapipeline_spark.sources.kafka_fake import KAFKA_WIRE_DDL

    raw = spark.read.schema(KAFKA_WIRE_DDL).json(os.path.join(fake.root, topic))
    want = summing_rollup(normalize(parse_kafka_values(raw)))
    got = TxnRollupTable(spark, table_path).read()
    cols = [f"`{c}`" for c in sorted(want.columns)]
    got_rows = got.select(*cols).collect() if got is not None else []
    res.attempt()
    if rows_digest(got_rows) != rows_digest(want.select(*cols).collect()):
        res.fail(f"{what} roll-up table != summing_rollup(normalize(raw))")
    return len(got_rows)


def ledger(tr, jobs, feed: Feed) -> dict:
    """The feed's per-layer figures.  An op is a non-empty live trigger."""
    from tracing import Span, op_ledger

    def med(xs):
        return median(xs) if xs else 0.0

    trig = [p for p in feed.progress if p.get("numInputRows", 0) > 0]
    ops = []
    for k, p in enumerate(trig):
        start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=dt.timezone.utc).timestamp()
        sid = -(k + 1)
        ops.append(Span(sid, "stream.trigger", start,
                        start + p["durationMs"]["triggerExecution"] / 1000.0, None, sid))
        # Spark runs a micro-batch's jobs under the query's run id, with
        # the batch id in their description
        for j in jobs:
            if j.group == p["runId"] and (j.desc or "").endswith(
                    f"batch = {p['batchId']}"):
                j.group = f"pb-{sid}"
    tr.spans.extend(ops)
    led = op_ledger(tr, ops, jobs)
    stream_jobs = [j for j in jobs if j.group and j.group.startswith("pb--")]

    def dur(key):
        return med([p["durationMs"].get(key, 0) / 1000.0 for p in trig])

    events = feed.totals["events"]
    data_bytes = sum(os.path.getsize(f) for f in glob.glob(
        f"{feed.table}/data/**/*.parquet", recursive=True))
    backlog = max((sum(1 for q in feed.produced
                       if q["due"] <= p["due"] < q.get("commit", float("inf")))
                   for p in feed.produced), default=0)
    return {
        "stream.trigger_s": dur("triggerExecution"),
        "stream.add_batch_s": dur("addBatch"),
        "stream.latest_offset_s": dur("latestOffset"),
        "stream.get_batch_s": dur("getBatch"),
        "stream.wal_commit_s": dur("walCommit"),
        "stream.commit_offsets_s": dur("commitOffsets"),
        "stream.query_planning_s": dur("queryPlanning"),
        "stream.input_rows_per_event": round(
            sum(p.get("numInputRows", 0) for p in feed.progress) / events, 4),
        "stream.empty_triggers": len(feed.progress) - len(trig),
        "stream.backfill_input_rows_per_event": round(
            sum(p.get("numInputRows", 0) for p in feed.bf_progress) / feed.bf_events, 4),
        "operators.txn_rollup.days_touched_per_merge": med(_commit_days(feed.table)),
        "operators.txn_rollup.bytes_written_per_event": round(data_bytes / events, 2),
        "spark.shuffle_bytes_per_event": round(
            sum(j.shuffle_written for j in stream_jobs) / events, 2),
        "spark.jobs_per_trigger": med(led["jobs"]),
        "spark.trigger_driver_gap_s": med(led["driver_gap_s"]),
        "operators.txn_rollup.read_s": med([r["s"] for r in feed.reads if r["traced"]]),
        "sources.backlog_files_max": backlog,
        "gen.lateness_s_max": round(max((p["at"] - p["due"] for p in feed.produced),
                                        default=0.0), 4),
        "operators.rollup.collapse_ratio": round(feed.totals["table_rows"] / events, 4),
        "tracing.read_overhead_s": round(
            med([r["s"] for r in feed.reads if r["traced"]])
            - med([r["s"] for r in feed.reads if not r["traced"]]), 6),
    }


def _commit_days(table_path: str) -> list[int]:
    """Days each merge rewrote: mapping entries pointing at its own
    version directory."""
    out = []
    for path in glob.glob(os.path.join(table_path, "_commits", "*.json")):
        cid = int(os.path.basename(path)[: -len(".json")])
        with open(path) as f:
            days = json.load(f)["days"]
        out.append(sum(1 for rel in days.values() if rel.startswith(f"data/{cid:020d}/")))
    return out
