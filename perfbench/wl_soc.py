"""``soc_pipeline``: the reference's whole pipeline as its users meet it.

1. an analyst searches (closed loop, two blocks of the 11 AQL searches);
2. the scheduler runs one ``Pipeline.run_all`` ETL window into the
   ``merge_rollup`` sink;
3. the feed folds into the transactional hourly roll-up while a dashboard
   reads it, then a backlog drains.

See ``soc_search`` and ``soc_ingest`` for each phase.  Set-up is the
session plus the analyst's set-up; the stream start is timed on its own
(``stream_start_s`` in the record).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target

import soc_ingest
import soc_search
from common import Result, mean, median, tail

#: share of the run's seconds the live feed runs for
LIVE_SHARE = 0.8


def run(ctx) -> Result:
    from inputs import LIVE_PERIOD_S

    tr = ctx.tracer
    res = Result()
    (fe_gv, fe_dp), setup_s, session_s = ctx.timed_setup(
        lambda spark: soc_search.setup_once(ctx, spark)
    )
    spark = ctx.sessions[-1]
    if ctx.traced:
        soc_search.wrap_layers(tr, [fe_gv, fe_dp])

    # the phases run one after another: overlapping them made each noisier
    t_phase = time.perf_counter()
    found = soc_search.search_phase(ctx, res, fe_gv, fe_dp)
    t_etl = time.perf_counter()
    pipe, cust, window, etl_s = soc_search.etl_phase(ctx, res, spark)
    t_etl_end = time.perf_counter()
    feed = soc_ingest.feed_phase(ctx, res, spark, ctx.seconds * LIVE_SHARE)
    t_check = time.perf_counter()
    views_end = len(spark.catalog.listTables())

    # the checks are untimed and independent: DuckDB and two Spark checks
    # run together
    with ThreadPoolExecutor(max_workers=3) as pool:
        searches_ok = pool.submit(soc_search.check_searches, res, ctx.inputs,
                                  found.digests)
        etl_ok = pool.submit(inheritable_thread_target(soc_search.check_etl),
                             res, spark, pipe, cust, window)
        feed_ok = pool.submit(inheritable_thread_target(soc_ingest.check),
                              res, spark, feed)
        res.detail["checks"] = {
            "search_vs_aql_oracle_sql": searches_ok.result(),
            "etl_tables_vs_one_shot_rollup": etl_ok.result(),
            **feed_ok.result(),
        }
    res.detail["phase_wall_s"] = {
        "searches": round(t_etl - t_phase, 2), "etl": round(t_etl_end - t_etl, 2),
        "all_phases": round(t_check - t_phase, 2),
        "checks": round(time.perf_counter() - t_check, 2),
    }

    nan = float("nan")
    res.e2e = {
        "setup_s": setup_s,
        # the mean over the fixed search mix: every search moves it
        "query_mean_s": mean(found.latencies) if found.latencies else nan,
        "batch_s": etl_s if etl_s is not None else nan,
        # the mean over the live files: a file's freshness depends on where
        # it falls within a trigger, and the mean takes every position
        "freshness_s": mean(feed.freshness) if feed.freshness else nan,
    }
    search_tail = tail(found.latencies, soc_search.SEARCHES) if found.latencies else {}
    n_files = max(1, int(ctx.seconds * LIVE_SHARE / LIVE_PERIOD_S))
    fresh_tail = tail(feed.freshness, n_files) if feed.freshness else {}
    untraced_reads = [r["s"] for r in feed.reads if not r["traced"]]
    res.name("setup_s", setup_s, "s", session_start_s=round(session_s, 4))
    res.name("search_mean_s", res.e2e["query_mean_s"], "s", samples=len(found.latencies))
    res.name("search_p50_s", median(found.latencies) if found.latencies else nan, "s",
             samples=len(found.latencies))
    res.name("search_tail_s", search_tail.get("value", nan), "s", **_tail_info(search_tail))
    res.name("etl_window_s", res.e2e["batch_s"], "s")
    res.name("ingest_freshness_mean_s", res.e2e["freshness_s"], "s",
             samples=len(feed.freshness))
    res.name("ingest_freshness_p50_s", median(feed.freshness) if feed.freshness else nan,
             "s", samples=len(feed.freshness))
    res.name("ingest_freshness_tail_s", fresh_tail.get("value", nan), "s",
             **_tail_info(fresh_tail))
    res.name("ingest_drain_events_per_s", feed.bf_events / feed.drain_s, "events/s",
             backlog_events=feed.bf_events, drain_s=round(feed.drain_s, 4))
    res.name("rollup_read_p50_s", median(untraced_reads) if untraced_reads else nan, "s",
             samples=len(untraced_reads))
    res.detail.update(
        stream_start_s=round(feed.stream_start_s, 4),
        searches=len(found.latencies), distinct_searches=len(found.digests),
        p50_by_kind_s={k: round(median(v), 4) for k, v in found.by_kind.items() if v},
        etl_window=window, live_files=len(feed.produced),
        live_events=feed.totals["events"], live_wall_s=round(feed.live_wall_s, 3),
        live_triggers=sum(1 for p in feed.progress if p.get("numInputRows", 0) > 0),
        reads=len(feed.reads), temp_views_end=views_end,
    )
    if ctx.traced:
        _ledger(ctx, res, spark, found, feed, session_s, setup_s, views_end,
                int(window is not None))
    return res


def _tail_info(t: dict) -> dict:
    return {k: t.get(k) for k in ("percentile", "samples", "beyond")}


def _ledger(ctx, res, spark, found, feed, session_s, setup_s, views_end,
            n_windows) -> None:
    import os

    from common import jvm_peak_rss_mb
    from tracing import gc_share, read_event_logs

    tr = ctx.tracer
    rss = jvm_peak_rss_mb(spark)
    spark.stop()  # flushes the event log
    jobs = read_event_logs(os.path.join(ctx.paths.run, "eventlog"))
    search_layers, led = soc_search.ledger(tr, jobs, found, n_windows, views_end)

    def med(xs):
        return median(xs) if xs else 0.0

    overhead = med(found.overhead)
    res.layers = {
        **search_layers,
        **soc_ingest.ledger(tr, jobs, feed),
        "engine.session_start_s": session_s,
        "engine.jvm_peak_rss_mb": rss,
        "spark.gc_share": gc_share(jobs),
        "tracing.overhead_s": overhead,
    }
    res.detail["self_time_s"] = tr.self_times()
    res.generic_layers = {
        "engine.session_start_s": session_s,
        "engine.jvm_peak_rss_mb": rss,
        "engine.temp_views_end": views_end,
        "setup.program_s": setup_s - session_s,
        "spark.jobs_per_op": med(led["jobs"]),
        # means: the planning phases and job times have millisecond
        # resolution, so a median of them can repeat exactly across runs
        "spark.plan_s": mean([p for p in found.plan_s if p is not None]),
        "spark.in_job_s": mean(led["in_job_s"]),
        "spark.driver_gap_s": med(led["driver_gap_s"]),
        "spark.bytes_read_per_op": med(led["bytes_read"]),
        "spark.shuffle_bytes_per_op": med(led["shuffle_bytes"]),
        "spark.gc_share": gc_share(jobs),
        "tracing.overhead_s": overhead,
    }
