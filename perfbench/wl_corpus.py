"""``corpus_retrieval``: a retrieval service whose indexes are maintained
while it serves.

Set-up builds the text-postings, hybrid and IVF-PQ artifacts over the
seeded held split of ``documents`` / ``embeddings``.  One client then runs
a closed loop of exactly one block of the request mix:
``text_knn_from_index``, ``hybrid_index_rels`` + ``hybrid_rrf`` and
``knn_ivfpq_from_index`` requests, two of each.  After the third request
one maintenance window runs:

- delivery: held-out documents plus near-duplicate re-crawls go through
  ``incremental_dedup``; the kept documents are appended to the text and
  hybrid indexes, the delivered vectors to the IVF-PQ index;
- takedown: deletes on all three indexes, then ``compact_*``.

A request is timed from the call until its rows are at the driver.
``batch_s`` is the maintenance window, ``freshness_s`` its part until every
index held the delivery.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from common import Result, duck_view, mean, median, planning_or_none, rows_digest, tail

#: one block of the request mix (2 text, 2 hybrid, 2 IVF-PQ)
REQUESTS = 6
#: the maintenance window runs after these many requests
MAINTAIN_AT = 3
TEXT_K = 5
DIM = 4096
VEC_DIM = 64
REFINE_K = 60


def run(ctx) -> Result:
    import pyarrow.parquet as pq
    from pyspark import inheritable_thread_target
    from pyspark.sql import functions as F

    from qradar_restapi_kafka_datapipeline_spark.operators import dedup as D
    from qradar_restapi_kafka_datapipeline_spark.operators import similarity as S
    from qradar_restapi_kafka_datapipeline_spark.operators import text as T
    from qradar_restapi_kafka_datapipeline_spark.sources.registry import load_tables

    tr = ctx.tracer
    res = Result()
    inputs = ctx.inputs
    texts = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(inputs.path("documents.parquet"),
                               columns=["doc_id", "text"]).to_pylist()
    }
    n_delivered = pq.read_metadata(inputs.path("delivery_documents.parquet")).num_rows

    def setup_once(spark):
        base = os.path.join(ctx.paths.run, "idx")
        load_tables(spark, inputs.dir)
        emb = spark.table("embeddings")

        def build(span, fn, *args, **kw):
            with tr.span(span, new_request=True):
                fn(*args, **kw)

        # independent builds over disjoint trees, submitted together as the
        # program's own takedown entry does
        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [
                pool.submit(inheritable_thread_target(build), "operators.text.build",
                            T.build_text_index, spark, f"{base}/text", dim=DIM),
                pool.submit(inheritable_thread_target(build), "operators.text.build",
                            T.build_hybrid_text_index, spark, f"{base}/hybrid", dim=DIM),
                pool.submit(inheritable_thread_target(build), "operators.similarity.build",
                            S.build_ivfpq_index, spark, emb, f"{base}/ivfpq"),
            ]
            for f in futures:
                f.result()
        return spark, base

    (spark, base), setup_s, session_s = ctx.timed_setup(setup_once)
    text_path, hyb_path, pq_path = f"{base}/text", f"{base}/hybrid", f"{base}/ivfpq"
    # the service opens the hybrid relations once per index version
    views = {"docs": "documents", "emb": "embeddings",
             "hybrid_rels": T.hybrid_index_rels(spark, hyb_path)}

    def serve(kind: str, doc: int):
        """One request: the serve call, then its rows to the driver."""
        if kind == "text":
            with tr.span("operators.text.knn_serve"):
                df = T.text_knn_from_index(
                    spark, text_path, texts[doc], k=TEXT_K, dim=DIM,
                    query_id=doc, exclude_id=doc,
                )
                return df, df.collect()
        if kind == "hybrid":
            with tr.span("operators.text.hybrid_serve"):
                tf_rel, posts_rel = views["hybrid_rels"]
                df = T.hybrid_rrf(spark, query_doc=doc, posts_rel=posts_rel,
                                  tf_rel=tf_rel, dim=DIM, source=views["docs"])
                return df, df.collect()
        with tr.span("operators.similarity.ivfpq_serve"):
            df = S.knn_ivfpq_from_index(
                spark, pq_path, dim=VEC_DIM, refine_k=REFINE_K,
                source_view=views["emb"],
            )
            return df, df.collect()

    def parallel(*calls):
        """Run independent maintenance calls on disjoint indexes together."""
        with ThreadPoolExecutor(max_workers=len(calls)) as pool:
            for f in [pool.submit(inheritable_thread_target(c)) for c in calls]:
                f.result()

    def spanned(name, fn, *args, **kw):
        parent = tr.current()

        def call():
            with tr.span(name, parent=parent):
                fn(*args, **kw)
        return call

    def chain(*calls):
        def call():
            for c in calls:
                c()
        return call

    def maintenance():
        """One window: the delivery (dedup, then appends) and the takedown
        (deletes, then compaction) as one chain per index, the three at
        once.  Returns the documents delivered, the ids dedup kept, and the
        seconds until every index held the delivery."""
        new = spark.read.parquet(inputs.path("delivery_documents.parquet"))
        new_emb = spark.read.parquet(inputs.path("delivery_embeddings.parquet"))
        ids = spark.createDataFrame([(i,) for i in gone], "doc_id BIGINT")
        vec_ids = ids.select(F.col("doc_id").alias("vec_id"))
        kept_ids: list[int] = []
        appended: list[float] = []
        t0 = time.perf_counter()

        op = tr.current()

        def dedup():
            with tr.span("operators.dedup.incremental_dedup", parent=op):
                kept_ids.extend(r[0] for r in D.incremental_dedup(
                    new, spark.table(views["docs"]), prefix_words=20
                ).select("doc_id").collect())
            new.where(F.col("doc_id").isin(kept_ids)).createOrReplaceTempView(
                "delivery_kept")

        def landed():
            appended.append(time.perf_counter() - t0)

        text_chain = chain(
            spanned("operators.text.append", T.append_to_text_index,
                    spark, text_path, "delivery_kept", dim=DIM), landed,
            spanned("operators.text.delete", T.delete_from_text_index,
                    spark, text_path, ids),
            spanned("operators.text.compact", T.compact_text_index, spark, text_path),
        )
        hybrid_chain = chain(
            spanned("operators.text.append", T.append_to_hybrid_index,
                    spark, hyb_path, "delivery_kept", dim=DIM), landed,
            spanned("operators.text.delete", T.delete_from_hybrid_index,
                    spark, hyb_path, ids),
            spanned("operators.text.compact", T.compact_hybrid_index,
                    spark, hyb_path, dim=DIM),
        )
        vector_chain = chain(
            spanned("operators.similarity.append", S.ivfpq_append_streaming,
                    spark, pq_path, new_emb, dim=VEC_DIM, n_batches=1), landed,
            spanned("operators.similarity.delete", S.delete_from_ivf_index,
                    spark, pq_path, vec_ids),
            spanned("operators.similarity.compact", S.compact_ivfpq_index,
                    spark, pq_path),
        )
        # documents go through dedup, vectors do not
        parallel(chain(dedup, lambda: parallel(text_chain, hybrid_chain)), vector_chain)
        spark.table(views["docs"]).unionByName(spark.table("delivery_kept")) \
            .where(~F.col("doc_id").isin(gone)).createOrReplaceTempView("docs_v1")
        spark.table(views["emb"]).unionByName(new_emb) \
            .where(~F.col("vec_id").isin(gone)).createOrReplaceTempView("emb_v1")
        views.update(docs="docs_v1", emb="emb_v1",
                     hybrid_rels=T.hybrid_index_rels(spark, hyb_path))
        return n_delivered, kept_ids, max(appended)

    requests = inputs.load("requests.json")
    gone = inputs.load("takedown.json")
    latencies: list[float] = []
    by_kind: dict[str, list[float]] = {"text": [], "hybrid": [], "ivfpq": []}
    overhead: list[float] = []
    plan_s: list[float] = []
    responses: list[tuple[int, str, int, list]] = []
    ops = []

    def request(i: int, segment: int) -> None:
        r = requests[i % len(requests)]
        res.attempted += 1
        try:
            timed = {}
            # traced runs also time the request untraced, in alternating
            # order: the difference is the tracing overhead
            for traced in ((True,) if not ctx.traced else
                           (False, True) if i % 2 else (True, False)):
                t0 = time.perf_counter()
                if traced:
                    with tr.span("op.request", new_request=True) as sp:
                        df, rows = serve(r["kind"], r["doc"])
                else:
                    with tr.off():
                        serve(r["kind"], r["doc"])
                timed[traced] = time.perf_counter() - t0
        except Exception as e:  # a failed request is counted, the loop goes on
            res.fail(f"{r['kind']} request doc {r['doc']}: {type(e).__name__}: {e}"[:300])
            return
        latencies.append(timed[True])
        by_kind[r["kind"]].append(timed[True])
        responses.append((segment, r["kind"], r["doc"], rows))
        if ctx.traced:
            overhead.append(timed[True] - timed[False])
            plan_s.append(planning_or_none(df))
            ops.append(sp)

    n_requests = ctx.cap(REQUESTS)
    maintain_at = min(MAINTAIN_AT, n_requests // 2)
    for i in range(maintain_at):
        request(i, 0)
    res.attempted += 1
    t0 = time.perf_counter()
    with tr.span("op.maintenance", new_request=True):
        delivered, kept_ids, delivery_s = maintenance()
    maintenance_s = time.perf_counter() - t0
    for i in range(maintain_at, n_requests):
        request(i, 1)

    t_check = time.perf_counter()
    res.detail["checks"] = _check(res, spark, inputs, responses, base, gone,
                                  delivered, kept_ids)

    t = tail(latencies, REQUESTS)
    res.detail["check_s"] = round(time.perf_counter() - t_check, 2)
    res.e2e = {
        "setup_s": setup_s,
        # the mean over the fixed request mix: every request moves it
        "query_mean_s": mean(latencies),
        # the whole maintenance window, and its part until every index held
        # the delivery (delivered documents can be retrieved from then on)
        "batch_s": maintenance_s,
        "freshness_s": delivery_s,
    }
    res.name("setup_s", setup_s, "s", session_start_s=round(session_s, 4))
    res.name("retrieve_mean_s", res.e2e["query_mean_s"], "s", samples=len(latencies))
    res.name("retrieve_p50_s", median(latencies), "s", samples=len(latencies))
    res.name("retrieve_tail_s", t["value"], "s", percentile=t["percentile"],
             samples=t["samples"], beyond=t["beyond"])
    res.name("maintenance_s", maintenance_s, "s", delivery_s=round(delivery_s, 4))
    res.detail.update(
        requests=len(latencies),
        p50_by_kind_s={k: round(median(v), 4) for k, v in by_kind.items() if v},
        delivered=delivered, kept=len(kept_ids or []),
    )
    if ctx.traced:
        _ledger(ctx, res, spark, ops, plan_s, overhead, base, session_s, setup_s,
                delivered, kept_ids)
    return res


def _check(res, spark, inputs, responses, base, gone, delivered, kept_ids) -> dict:
    """Sampled requests (those on the pinned query documents, and the first
    IVF-PQ request of each segment) must equal the DuckDB check the
    registry applies to that serve, over the corpus the indexes held at
    the time; no result after the takedown may name a deleted document;
    the delivery's dedup must equal the registry's oracle."""
    import duckdb

    from inputs import PINNED_IDS
    from qradar_restapi_kafka_datapipeline_spark.operators import dedup as D
    from qradar_restapi_kafka_datapipeline_spark.operators import similarity as S
    from qradar_restapi_kafka_datapipeline_spark.operators import text as T

    gone_set = set(gone)
    counts = {"serve_vs_registry_oracle": 0, "results_mask_takedown": 0,
              "dedup_vs_registry_oracle": 0}
    con = duckdb.connect()
    try:
        con.execute(duck_view("held_docs", inputs.path("documents.parquet")))
        con.execute(duck_view("held_emb", inputs.path("embeddings.parquet")))
        con.execute(duck_view("delivery", inputs.path("delivery_documents.parquet")))
        con.execute(duck_view("delivery_emb", inputs.path("delivery_embeddings.parquet")))
        kept = ",".join(str(i) for i in (kept_ids or [])) or "NULL"
        gone_sql = ",".join(str(i) for i in gone)
        segments = {
            0: ("SELECT * FROM held_docs", "SELECT * FROM held_emb"),
            1: (f"SELECT * FROM (SELECT * FROM held_docs UNION ALL SELECT * FROM "
                f"delivery WHERE doc_id IN ({kept})) WHERE doc_id NOT IN ({gone_sql})",
                f"SELECT * FROM (SELECT * FROM held_emb UNION ALL SELECT * FROM "
                f"delivery_emb) WHERE vec_id NOT IN ({gone_sql})"),
        }
        oracle: dict[tuple, str] = {}
        checked_ivf: set[int] = set()
        for seg, kind, doc, rows in responses:
            res.attempted += 1
            if seg == 1:
                counts["results_mask_takedown"] += 1
                if any(r["n_id" if kind != "hybrid" else "doc_id"] in gone_set
                       for r in rows):
                    res.fail(f"{kind} serve returned a deleted document (doc {doc})")
            if kind == "text" and seg > 0:
                # the text index keeps its frozen analyzer after maintenance:
                # only masking is rebuild-checkable
                continue
            if kind == "ivfpq":
                if seg in checked_ivf:
                    continue
                checked_ivf.add(seg)
            elif doc not in PINNED_IDS:
                continue
            key = (seg, kind, doc)
            if key not in oracle:
                docs_sql, emb_sql = segments[seg]
                con.execute(f"CREATE OR REPLACE VIEW documents AS {docs_sql}")
                con.execute(f"CREATE OR REPLACE VIEW embeddings AS {emb_sql}")
                if kind == "text":
                    knn = T.hashed_text_knn_sql("duckdb", query_max=max(PINNED_IDS) + 1,
                                                k=TEXT_K, dim=DIM)
                    sql = f"SELECT * FROM ({knn}) WHERE q_id = {doc}"
                elif kind == "hybrid":
                    sql = T.hybrid_rrf_sql("duckdb", query_doc=doc, dim=DIM)
                else:
                    sql = S.ivfpq_oracle_sql(f"{base}/ivfpq/centroids",
                                             f"{base}/ivfpq/codebooks",
                                             dim=VEC_DIM, refine_k=REFINE_K)
                oracle[key] = rows_digest(con.execute(sql).fetchall())
            counts["serve_vs_registry_oracle"] += 1
            if rows_digest(rows) != oracle[key]:
                res.fail(f"{kind} serve for doc {doc} in segment {seg} != registry check")
        if delivered is not None:
            res.attempted += 1
            con.execute("CREATE OR REPLACE VIEW documents AS "
                        "SELECT * FROM held_docs UNION ALL SELECT * FROM delivery")
            ids = ",".join(
                str(r[0]) for r in con.execute("SELECT doc_id FROM delivery").fetchall()
            )
            dedup = D.incremental_dedup_oracle_sql(f"doc_id IN ({ids})", prefix_words=20)
            want = {r[0] for r in con.execute(f"SELECT doc_id FROM ({dedup})").fetchall()}
            counts["dedup_vs_registry_oracle"] += 1
            if want != set(kept_ids):
                res.fail(f"incremental_dedup kept {len(kept_ids)} docs, oracle {len(want)}")
    finally:
        con.close()
    return counts


def _ledger(ctx, res, spark, ops, plan_s, overhead, base, session_s, setup_s,
            delivered, kept_ids) -> None:
    from common import jvm_peak_rss_mb
    from tracing import gc_share, op_ledger, read_event_logs

    tr = ctx.tracer
    views_end = len(spark.catalog.listTables())
    artifact_files = sum(len(files) for _, _, files in os.walk(base))
    rss = jvm_peak_rss_mb(spark)
    spark.stop()
    jobs = read_event_logs(os.path.join(ctx.paths.run, "eventlog"))
    led = op_ledger(tr, ops, jobs)

    def med(xs):
        return median(xs) if xs else 0.0

    def total(name):
        return round(sum(tr.durations(name)), 6)

    res.layers = {
        "operators.text.knn_serve_s": med(tr.durations("operators.text.knn_serve")),
        "operators.text.hybrid_serve_s": med(tr.durations("operators.text.hybrid_serve")),
        "operators.similarity.ivfpq_serve_s": med(
            tr.durations("operators.similarity.ivfpq_serve")),
        "spark.jobs_per_request": med(led["jobs"]),
        "spark.driver_gap_s": med(led["driver_gap_s"]),
        "engine.artifact_files": artifact_files,
        "operators.dedup.incremental_dedup_s": total("operators.dedup.incremental_dedup"),
        "operators.dedup.kept_ratio": round(len(kept_ids) / delivered, 4)
        if delivered else 0.0,
        "operators.text.append_s": total("operators.text.append"),
        "operators.similarity.append_s": total("operators.similarity.append"),
        "operators.text.delete_s": total("operators.text.delete"),
        "operators.text.compact_s": total("operators.text.compact"),
        "operators.similarity.compact_s": total("operators.similarity.compact"),
        "engine.session_start_s": session_s,
        "operators.text.build_s": med(tr.durations("operators.text.build")),
        "operators.similarity.build_s": med(tr.durations("operators.similarity.build")),
        "engine.jvm_peak_rss_mb": rss,
        "spark.gc_share": gc_share(jobs),
        "tracing.overhead_s": med(overhead),
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
        "spark.plan_s": mean([p for p in plan_s if p is not None]),
        "spark.in_job_s": mean(led["in_job_s"]),
        "spark.driver_gap_s": med(led["driver_gap_s"]),
        "spark.bytes_read_per_op": med(led["bytes_read"]),
        "spark.shuffle_bytes_per_op": med(led["shuffle_bytes"]),
        "spark.gc_share": gc_share(jobs),
        "tracing.overhead_s": med(overhead),
    }
