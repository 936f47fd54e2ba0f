"""Fixed per-request costs of the retrieval serve paths.

A request must not run a Python-worker job for its own constants (every
per-request relation is a JVM ``LocalRelation``), must not re-infer an
artifact's schema from parquet footers, and must not leave temp views
behind.  The artifact schema memo must follow a rebuild that changes an
artifact's columns.
"""

import pytest
from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark import engine


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _views(spark) -> set:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _jobs_while(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return its result and the ids
    of the Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    from qradar_restapi_kafka_datapipeline_spark.sources.registry import load_tables

    load_tables(spark, sf_dir)
    return spark


@pytest.fixture(scope="module")
def indexes(corpus, tmp_path_factory):
    from qradar_restapi_kafka_datapipeline_spark.operators import similarity as S
    from qradar_restapi_kafka_datapipeline_spark.operators import text as T

    spark = corpus
    base = str(tmp_path_factory.mktemp("serve_paths"))
    emb = spark.table("embeddings")
    T.build_text_index(spark, f"{base}/text")
    T.build_hybrid_text_index(spark, f"{base}/hybrid")
    S.build_ivfpq_index(spark, emb, f"{base}/ivfpq")
    S.build_ivf_index(spark, emb, f"{base}/ivf")
    # chunk retrieval serves from memoized chunk postings
    return {"base": base, "chunks": T.build_chunk_postings(spark)}


def _serves(spark, indexes):
    from qradar_restapi_kafka_datapipeline_spark.operators import similarity as S
    from qradar_restapi_kafka_datapipeline_spark.operators import text as T

    base = indexes["base"]
    text = spark.table("documents").where("doc_id = 0").first()["text"]
    emb = spark.table("embeddings")
    return {
        "text_knn_from_index": lambda: T.text_knn_from_index(
            spark, f"{base}/text", text, k=3, query_id=0, exclude_id=0
        ),
        "knn_ivfpq_from_index": lambda: S.knn_ivfpq_from_index(
            spark, f"{base}/ivfpq", dim=64, refine_k=60
        ),
        "knn_ivf_from_index": lambda: S.knn_ivf_from_index(
            spark, f"{base}/ivf", emb.where("vec_id < 3"), k=3
        ),
        "chunk_knn": lambda: T.chunk_knn(
            spark, query_doc=0, k=5, chunk_postings_view=indexes["chunks"]
        ),
    }


@pytest.mark.parametrize(
    "serve",
    ["text_knn_from_index", "knn_ivfpq_from_index", "knn_ivf_from_index",
     "chunk_knn"],
)
def test_serve_plan_has_no_python_rdd(corpus, indexes, serve):
    """Per-request constants are JVM-local relations: the optimized plan
    of the returned DataFrame scans no ``LogicalRDD`` (which would run a
    job on Python workers on every use), and the serve leaves no temp
    view behind."""
    spark = corpus
    before = _views(spark)
    df = _serves(spark, indexes)[serve]()
    assert "LogicalRDD" not in _optimized_plan(df)
    assert df.collect()
    assert _views(spark) == before


def test_text_knn_empty_query_is_local(corpus, indexes):
    from qradar_restapi_kafka_datapipeline_spark.operators import text as T

    df = T.text_knn_from_index(corpus, f"{indexes['base']}/text", "", k=3)
    assert "LogicalRDD" not in _optimized_plan(df)
    assert df.collect() == [] and df.columns == ["q_id", "n_id", "cos", "rk"]


def test_local_relation_keeps_doubles_exact(spark):
    vals = [0.1, 1e-300, -0.0, 2.0 ** 0.5, float("inf")]
    df = engine.local_relation(
        spark, [(1, vals), (2, [])], "id BIGINT, v ARRAY<DOUBLE>"
    )
    assert "LocalRelation" in _optimized_plan(df)
    rows = {r["id"]: r["v"] for r in df.collect()}
    assert rows == {1: vals, 2: []}


def test_hybrid_serve_runs_no_inference_job(corpus, indexes):
    """After the first request has memoized the artifact schemas, opening
    a hybrid request (analysis of both constituent statements) runs no
    Spark job: the tf/ and posts/ trees are not re-inferred from footers."""
    from qradar_restapi_kafka_datapipeline_spark.operators import text as T

    spark = corpus
    tf_rel, posts_rel = T.hybrid_index_rels(spark, f"{indexes['base']}/hybrid")

    def open_request():
        return T.hybrid_rrf(spark, query_doc=1, posts_rel=posts_rel,
                            tf_rel=tf_rel)

    first = open_request().collect()
    before = _views(spark)
    df, jobs = _jobs_while(spark, "hybrid_open", open_request)
    assert jobs == []
    assert _views(spark) == before
    assert df.collect() == first


def test_artifact_sql_sees_appended_files(spark, tmp_path):
    """The schema is memoized but the file listing is not: a statement
    after an append reads the new files, and no statement after the first
    runs an inference job."""
    p = str(tmp_path / "art")
    spark.range(3).write.parquet(p)

    def count():
        return engine.artifact_sql(spark, f"SELECT COUNT(*) AS n FROM parquet.`{p}`")

    assert count().first()["n"] == 3
    spark.range(3, 5).write.mode("append").parquet(p)
    df, jobs = _jobs_while(spark, "artifact_open", count)
    assert jobs == []
    assert df.first()["n"] == 5


def test_refresh_artifacts_reopens_the_tree_only(spark, tmp_path):
    """A rewrite re-opens this session's artifacts under its path with their
    new shape (the next open runs no inference job), drops trees the
    rewrite removed, and leaves other paths alone."""
    import shutil

    p, sibling = str(tmp_path / "idx"), str(tmp_path / "idx2")
    for path in (f"{p}/a", f"{p}/gone", sibling):
        spark.range(2).write.parquet(path)
        engine.read_artifact(spark, path)
    spark.range(2).selectExpr("id", "id AS b").write.mode("overwrite").parquet(
        f"{p}/a"
    )
    shutil.rmtree(f"{p}/gone")
    before = engine._ARTIFACT_SCHEMAS[(id(spark), sibling)]
    engine.refresh_artifacts(spark, p)
    memo = {k[1]: v for k, v in engine._ARTIFACT_SCHEMAS.items()
            if k[0] == id(spark)}
    assert f"{p}/gone" not in memo and memo[sibling] is before
    cols, jobs = _jobs_while(
        spark, "refreshed_open",
        lambda: engine.read_artifact(spark, f"{p}/a").columns,
    )
    assert cols == ["id", "b"] and jobs == []


def test_rebuilt_artifact_with_new_columns_reads_new_shape(corpus, tmp_path):
    """An IVF index rebuilt at the same path under different id/vector
    column names serves with the new columns: the build drops the
    memoized schema of the old tree."""
    from qradar_restapi_kafka_datapipeline_spark.operators import similarity as S

    spark = corpus
    p = str(tmp_path / "ivf")
    emb = spark.table("embeddings")
    S.build_ivf_index(spark, emb, p)
    old = S.knn_ivf_from_index(spark, p, emb.where("vec_id < 3"), k=3)
    want = sorted((r["q_id"], r["n_id"]) for r in old.collect())

    renamed = emb.select(F.col("vec_id").alias("item_id"),
                         F.col("embedding").alias("vec"))
    S.build_ivf_index(spark, renamed, p, id_col="item_id", vec_col="vec")
    assert "item_id" in engine.read_artifact(spark, f"{p}/assignments").columns
    new = S.knn_ivf_from_index(spark, p, renamed.where("item_id < 3"), k=3,
                               id_col="item_id", vec_col="vec")
    assert sorted((r["q_id"], r["n_id"]) for r in new.collect()) == want


def test_ensure_artifact_build_serves_without_inference(
    corpus, tmp_path, monkeypatch
):
    """A hybrid index built through ``ensure_artifact`` (a staging tree,
    then a rename) serves its first request with no Spark job while
    opening: the schemas the build memoized move to the published path,
    and none stays keyed on the staging tree."""
    from qradar_restapi_kafka_datapipeline_spark.operators import text as T

    spark = corpus
    monkeypatch.setattr(engine, "ARTIFACT_ROOT", str(tmp_path))
    path = engine.ensure_artifact(
        str(tmp_path / "hybrid"),
        lambda tmp: T.build_hybrid_text_index(spark, tmp),
    )
    assert not [k for k in engine._ARTIFACT_SCHEMAS if ".__build_" in k[1]]
    tf_rel, posts_rel = T.hybrid_index_rels(spark, path)
    df, jobs = _jobs_while(
        spark, "published_open",
        lambda: T.hybrid_rrf(spark, query_doc=1, posts_rel=posts_rel,
                             tf_rel=tf_rel),
    )
    assert jobs == []
    assert df.collect()


def test_failed_ensure_artifact_build_drops_staging_schemas(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(engine, "ARTIFACT_ROOT", str(tmp_path))
    target = str(tmp_path / "art")

    def build(tmp):
        spark.range(2).write.parquet(f"{tmp}/a")
        engine.read_artifact(spark, f"{tmp}/a")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        engine.ensure_artifact(target, build)
    assert not [k for k in engine._ARTIFACT_SCHEMAS if k[1].startswith(target)]
