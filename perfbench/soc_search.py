"""The analyst and the scheduler of ``soc_pipeline``.

Set-up: ``setup()`` over the amplified events, then
``materialize_events_day_partitioned`` and the nine
``materialize_globalviews`` tables.  Raw-event (traffic) searches are
served from the day-partitioned events through
``AQLFrontend(partition_col="event_date")``; GLOBALVIEW searches from the
materialized views.

Searches: one analyst in a closed loop issues exactly two seeded blocks of
the 11 ``AQL_CORPUS`` searches across the 5 customers, windows of 1 hour to 30
days, half through ``sql(auto_route=True)`` and half through ``sql_bound``.
A search is timed from the call until every result row is at the driver.

ETL: the scheduler's ``Pipeline.run_all`` for one customer and the
reference's two scheduled searches over one one-week window, written
through ``merge_rollup`` into the non-transactional sink.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from common import Result, duck_view, planning_or_none, rows_digest

#: two blocks of the 11 corpus searches, each with the same mix of window
#: lengths: every search of the mix is run twice, with seeded draws
SEARCHES = 22
#: the reference's scheduled ETL searches (its queries.json); the
#: GLOBALVIEW searches are not rolled up by ``Pipeline``
ETL_QUERIES = ["AllowedInboundTraffic", "AllowedOutboundTraffic"]


@dataclass
class Searches:
    latencies: list[float] = field(default_factory=list)
    #: latencies of the GLOBALVIEW and of the raw-event searches
    by_kind: dict[str, list[float]] = field(
        default_factory=lambda: {"globalview": [], "raw_event": []})
    digests: dict[tuple, list[str]] = field(default_factory=dict)
    ops: list = field(default_factory=list)
    overhead: list[float] = field(default_factory=list)
    plan_s: list[float] = field(default_factory=list)


def setup_once(ctx, spark):
    """The analyst's set-up; returns the GLOBALVIEW and the raw-event
    frontends."""
    from pyspark import inheritable_thread_target

    from qradar_restapi_kafka_datapipeline_spark.entry_queries import setup
    from qradar_restapi_kafka_datapipeline_spark.plans.aql import AQLFrontend
    from qradar_restapi_kafka_datapipeline_spark.sources.registry import (
        materialize_events_day_partitioned,
    )
    from qradar_restapi_kafka_datapipeline_spark.views import (
        GLOBALVIEW_SPECS,
        materialize_globalviews,
        register_materialized_globalviews,
    )

    tr = ctx.tracer
    base = os.path.join(ctx.paths.run, "mat")
    with tr.span("sources.setup", new_request=True):
        fe_gv = setup(spark, ctx.inputs.dir)
    with tr.span("sources.qevents_materialize", new_request=True):
        materialize_events_day_partitioned(
            spark, f"{base}/events"
        ).createOrReplaceTempView("qevents_dp")

    # the nine views are independent writes over the materialized events;
    # they are submitted together, as the program's own index builds are
    def view(name):
        with tr.span("views.materialize", new_request=True):
            materialize_globalviews(spark, f"{base}/gv", source="qevents_dp",
                                    names=[name])

    with ThreadPoolExecutor(max_workers=len(GLOBALVIEW_SPECS)) as pool:
        for f in [pool.submit(inheritable_thread_target(view), name)
                  for name in GLOBALVIEW_SPECS]:
            f.result()
    register_materialized_globalviews(spark, f"{base}/gv")
    fe_dp = AQLFrontend(spark, events_view="qevents_dp", partition_col="event_date")
    return fe_gv, fe_dp


def wrap_layers(tr, frontends) -> None:
    """Traced runs: spans around the calls into ``plans`` and ``pipeline``
    that the program makes on the benchmark's behalf."""
    from qradar_restapi_kafka_datapipeline_spark import pipeline as pipeline_mod
    from qradar_restapi_kafka_datapipeline_spark.plans import rollup_router

    for fe in frontends:
        wrap(tr, fe, "translate", "plans.aql.translate")
    route = rollup_router.try_route_to_globalview

    def routed(aql):
        with tr.span("plans.rollup_router.route"):
            out = route(aql)
        tr.count("route_attempts")
        tr.count("route_hits", out is not None)
        return out

    rollup_router.try_route_to_globalview = routed
    wrap(tr, pipeline_mod, "merge_rollup", "operators.rollup.merge")


def wrap(tr, obj, attr: str, span: str) -> None:
    """Record ``span`` around ``obj.attr`` (instance or module attribute)."""
    fn = getattr(obj, attr)

    def wrapped(*a, **k):
        with tr.span(span):
            return fn(*a, **k)

    setattr(obj, attr, wrapped)


def search_phase(ctx, res: Result, fe_gv, fe_dp) -> Searches:
    from qradar_restapi_kafka_datapipeline_spark.aql_corpus import (
        AQL_CORPUS,
        GLOBALVIEW_QUERIES,
    )

    tr = ctx.tracer
    out = Searches()
    searches = ctx.inputs.load("searches.json")
    for i, s in enumerate(searches[: ctx.cap(SEARCHES)], 1):
        params = {"customer_name": s["customer"], "start_time": s["start"],
                  "stop_time": s["stop"], "event_processor": "ep1"}
        aql = AQL_CORPUS[s["query"]]
        fe = fe_gv if s["query"] in GLOBALVIEW_QUERIES else fe_dp

        def search():
            if s["mode"] == "auto_route":
                with tr.span("plans.aql.sql"):
                    df = fe.sql(aql, params, auto_route=True)
            else:
                with tr.span("plans.aql.sql_bound"):
                    df = fe.sql_bound(aql, params)
            with tr.span("spark.collect"):
                return df, df.collect()

        res.attempted += 1
        try:
            timed = {}
            # traced runs also time the search untraced, in alternating
            # order: the difference is the tracing overhead
            for traced in ((True,) if not ctx.traced else
                           (False, True) if i % 2 else (True, False)):
                t0 = time.perf_counter()
                if traced:
                    with tr.span("op.search", new_request=True) as sp:
                        df, rows = search()
                else:
                    with tr.off():
                        search()
                timed[traced] = time.perf_counter() - t0
        except Exception as e:  # a failed search is counted, the loop goes on
            res.fail(f"search {s}: {type(e).__name__}: {e}"[:300])
            continue
        out.latencies.append(timed[True])
        out.by_kind["globalview" if fe is fe_gv else "raw_event"].append(timed[True])
        if ctx.traced:
            out.overhead.append(timed[True] - timed[False])
            out.plan_s.append(planning_or_none(df))
            out.ops.append(sp)
        key = (s["query"], s["customer"], s["start"], s["stop"])
        out.digests.setdefault(key, []).append(rows_digest(rows))
    return out


def etl_phase(ctx, res: Result, spark):
    """Returns (pipeline, customer, the window if it ran, its seconds)."""
    from qradar_restapi_kafka_datapipeline_spark import pipeline as pipeline_mod

    tr = ctx.tracer
    pipe = pipeline_mod.Pipeline(spark, os.path.join(ctx.paths.run, "sink"))
    if ctx.traced:
        wrap(tr, pipe, "_run_one", "pipeline.unit")
    etl = ctx.inputs.load("etl.json")
    start, stop = etl["window"]
    res.attempted += 1
    t0 = time.perf_counter()
    try:
        with tr.span("op.etl_window", new_request=True):
            pipe.run_all([etl["customer"]], start, stop, query_names=ETL_QUERIES)
    except Exception as e:
        res.fail(f"run_all {start}: {type(e).__name__}: {e}"[:300])
        return pipe, etl["customer"], None, None
    return pipe, etl["customer"], (start, stop), time.perf_counter() - t0


def check_searches(res: Result, inputs, digests: dict) -> int:
    """Every search's rows must equal DuckDB's ``aql_oracle_sql`` result for
    the same (query, params), compared order-insensitively."""
    import duckdb

    from qradar_restapi_kafka_datapipeline_spark.aql_corpus import AQL_CORPUS
    from qradar_restapi_kafka_datapipeline_spark.plans.aql import aql_oracle_sql

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(duck_view("events", inputs.path("events.parquet")))
        for (q, cust, start, stop), got in digests.items():
            params = {"customer_name": cust, "start_time": start,
                      "stop_time": stop, "event_processor": "ep1"}
            want = rows_digest(con.execute(aql_oracle_sql(AQL_CORPUS[q], params)).fetchall())
            bad = sum(g != want for g in got)
            if bad:
                res.fail(f"oracle mismatch {q} {cust} {start}-{stop}: "
                         f"{got[0]} != {want}", n=bad)
    finally:
        con.close()
    return sum(len(g) for g in digests.values())


def check_etl(res: Result, spark, pipe, cust: str, window) -> int:
    """The sink tables after the window must equal a one-shot roll-up of
    the same searches over it."""
    if window is None:
        return 0
    import pyspark.errors

    from qradar_restapi_kafka_datapipeline_spark.operators.normalize import normalize
    from qradar_restapi_kafka_datapipeline_spark.operators.rollup import summing_rollup
    from qradar_restapi_kafka_datapipeline_spark.sources.ingest import table_name

    start, stop = window
    for q in ETL_QUERIES:
        want = summing_rollup(normalize(pipe.run_query(q, cust, start, stop)))
        cols = [f"`{c}`" for c in sorted(want.columns)]
        try:
            got = spark.read.parquet(f"{pipe.sink_base}/{table_name(cust, q)}")
            got_rows = got.select(*cols).collect()
        except pyspark.errors.AnalysisException:
            got_rows = []
        if rows_digest(got_rows) != rows_digest(want.select(*cols).collect()):
            res.fail(f"run_all table {cust}/{q} != one-shot roll-up")
    return len(ETL_QUERIES)


def ledger(tr, jobs, found: Searches, n_windows: int, views_end: int) -> dict:
    """The analyst's and the scheduler's per-layer figures."""
    from common import median
    from tracing import op_ledger

    def med(xs):
        return median(xs) if xs else 0.0

    led = op_ledger(tr, found.ops, jobs)
    merge_led = op_ledger(tr, tr.named("operators.rollup.merge"), jobs)
    attempts = tr.counts.get("route_attempts", 0)
    return {
        "plans.aql.translate_s": med(tr.durations("plans.aql.translate")),
        "plans.rollup_router.route_hit_ratio": (
            round(tr.counts.get("route_hits", 0) / attempts, 4) if attempts else 0.0
        ),
        "spark.plan_s": med([p for p in found.plan_s if p is not None]),
        "spark.jobs_per_search": med(led["jobs"]),
        "spark.driver_gap_s": med(led["driver_gap_s"]),
        "engine.temp_views_end": views_end,
        "spark.in_job_s": med(led["in_job_s"]),
        "spark.files_read_per_search": med(led["files_read"]),
        "spark.bytes_read_per_search": med(led["bytes_read"]),
        "pipeline.unit_s": med(tr.durations("pipeline.unit")),
        "operators.rollup.merge_s": med(tr.durations("operators.rollup.merge")),
        "operators.rollup.bytes_written_per_window": (
            round(sum(merge_led["bytes_written"]) / n_windows, 1) if n_windows else 0.0
        ),
        "sources.qevents_materialize_s": med(tr.durations("sources.qevents_materialize")),
        "views.materialize_s": med(tr.durations("views.materialize")),
    }, led
