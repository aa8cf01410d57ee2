"""Calibration, batch-iterator paging, and streaming ingest tests."""

import os
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.calibrate import calibrate_window
from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.iterator import (
    BatchIterator,
    DefaultSchedule,
    LinearSchedule,
)
from scalablevectorsearch_spark.operators.vamana import (
    VamanaParams,
    vamana_build,
    vamana_search,
)
from scalablevectorsearch_spark.streaming.ingest import (
    ingest_vectors,
    latest_view,
    run_windowed_events,
    stream_vectors,
)

ART = str(Path(__file__).resolve().parents[1] / "_artifacts" / "test_streaming")


@pytest.fixture(scope="module", autouse=True)
def art_dir():
    shutil.rmtree(ART, ignore_errors=True)
    os.makedirs(ART, exist_ok=True)
    yield
    shutil.rmtree(ART, ignore_errors=True)


@pytest.fixture(scope="module")
def base(embeddings):
    return embeddings.selectExpr("vec_id as id", "embedding as vector")


@pytest.fixture(scope="module")
def queries(base):
    return base.filter(F.col("id") < 10).selectExpr("id as qid", "vector")


def test_calibrate_hits_target(base, queries):
    idx = vamana_build(base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2)
    gt = flat_knn(base, queries, k=5, distance="l2")
    gt.cache()

    res = calibrate_window(
        lambda w: vamana_search(idx, queries, k=5, search_window_size=w),
        gt, k=5, target_recall=0.9, min_window=1, max_window=64,
    )
    assert res.recall >= 0.9
    # a smaller-window probe either failed the target or wasn't evaluated
    assert res.search_window_size <= 64
    assert len(res.probes) <= 8  # log2(64) + initial


def test_iterator_pages_disjoint_and_ordered(base, queries):
    def search(k, window):
        return flat_knn(base, queries, k=k, distance="l2")

    it = BatchIterator(search_fn=search, schedule=DefaultSchedule(batch_size=3))
    p1 = it.next_batch().collect()
    p2 = it.next_batch().collect()
    r1 = {(r["qid"], r["neighbor_id"]) for r in p1}
    r2 = {(r["qid"], r["neighbor_id"]) for r in p2}
    assert r1.isdisjoint(r2)
    assert {r["rank"] for r in p1} == {1, 2, 3}
    assert {r["rank"] for r in p2} == {4, 5, 6}
    it.update()
    assert {r["rank"] for r in it.next_batch().collect()} == {1, 2, 3}


def test_linear_schedule_grows():
    s = LinearSchedule(batch_size=2, slope=2)
    assert [s.batch(p) for p in range(3)] == [2, 4, 6]


def test_streaming_vector_upsert(spark, base):
    src, tgt, ckpt = f"{ART}/src", f"{ART}/tgt", f"{ART}/ckpt"
    # batch 1: ids 0..4; batch 2 (appended later file): update id 0, delete id 1
    base.filter(F.col("id") < 5).withColumn("is_delete", F.lit(False)).withColumn(
        "seq", F.lit(1).cast("long")
    ).write.parquet(f"{src}/b1")
    up = base.filter(F.col("id") == 0).select(
        "id", F.expr("transform(vector, x -> float(0.0))").alias("vector"),
        F.lit(False).alias("is_delete"), F.lit(2).cast("long").alias("seq"),
    )
    tomb = base.filter(F.col("id") == 1).select(
        "id", "vector", F.lit(True).alias("is_delete"), F.lit(2).cast("long").alias("seq")
    )
    up.unionByName(tomb).write.parquet(f"{src}/b2")

    stream = stream_vectors(spark, f"{src}/*")
    ingest_vectors(stream, tgt, ckpt)

    view = latest_view(spark, tgt)
    rows = {r["id"]: r["vector"] for r in view.collect()}
    assert 1 not in rows  # tombstoned
    assert set(rows) == {0, 2, 3, 4}


def test_streaming_checkpoint_resume_no_duplicates(spark, base):
    """Re-running the drain with the same checkpoint must be a no-op
    (exactly-once file-source semantics), and a NEW file afterwards is
    picked up incrementally."""
    from scalablevectorsearch_spark.streaming.ingest import ingest_vectors, latest_view

    src, tgt, ckpt = f"{ART}/ck_src", f"{ART}/ck_tgt", f"{ART}/ck_ckpt"
    b = base.filter(F.col("id") < 10).withColumn("is_delete", F.lit(False)).withColumn(
        "seq", F.lit(1).cast("long")
    )
    b.write.parquet(f"{src}/b1")

    def drain():
        stream = spark.readStream.schema(
            "id long, vector array<float>, is_delete boolean, seq long"
        ).parquet(f"{src}/*")
        ingest_vectors(stream, tgt, ckpt)

    drain()
    n1 = spark.read.parquet(tgt).count()
    drain()  # same checkpoint: nothing new to process
    assert spark.read.parquet(tgt).count() == n1 == 10

    b.selectExpr("id + 100 as id", "vector", "is_delete", "cast(2 as long) as seq").write.parquet(
        f"{src}/b2"
    )
    drain()
    assert spark.read.parquet(tgt).count() == 20
    assert latest_view(spark, tgt).count() == 20


def test_stateful_streaming_dedup(spark, documents):
    """Cross-batch dedup: a doc re-ingested in a LATER micro-batch is
    flagged as a duplicate of the first-seen canonical."""
    from scalablevectorsearch_spark.streaming.stateful import run_streaming_dedup

    src, out, ckpt = f"{ART}/dd_src", f"{ART}/dd_out", f"{ART}/dd_ckpt"
    docs = documents.select("doc_id", "text").filter(F.col("doc_id") < 50)
    docs.write.parquet(f"{src}/b1")
    # second file: re-ingest docs 0-4 under new ids (same text)
    docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    ).write.parquet(f"{src}/b2")

    run_streaming_dedup(spark, f"{src}/*", out, ckpt)
    res = spark.read.parquet(out)
    assert res.count() == 55
    dups = {r["doc_id"]: r["canonical_id"] for r in res.filter("is_dup").collect()}
    assert dups == {1000 + i: i for i in range(5)}


def test_streaming_windowed_events(spark, sf_dir):
    src, out, ckpt = f"{ART}/ev_src", f"{ART}/ev_out", f"{ART}/ev_ckpt"
    # the fixture's parquet uses TIMESTAMP(NANOS), which Spark's reader
    # rejects — rewrite through pandas at microsecond precision
    import duckdb

    pdf = duckdb.sql(
        f"SELECT event_id, ts, user_id, event_type, value, props "
        f"FROM '{sf_dir}/events.parquet'"
    ).df()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    events = spark.createDataFrame(pdf)
    events.write.parquet(src)
    run_windowed_events(spark, src, out, ckpt, "1 minute", "2 minutes")
    agg = spark.read.parquet(out)
    assert agg.count() > 0
    # totals preserved across windows
    total = agg.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count()


def test_stream_knn_matches_batch(spark, embeddings, tmp_path):
    """Streaming k-NN (foreachBatch over a query file stream) must equal
    the batch flat_knn answer for the same queries."""
    from scalablevectorsearch_spark.operators.flat import flat_knn
    from scalablevectorsearch_spark.streaming.search import (
        stream_knn,
        stream_queries,
    )

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    q_batch = base.filter(F.col("id") < 12).selectExpr("id as qid", "vector")
    src = str(tmp_path / "qstream")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    # two "arrivals" of queries as separate files
    q_batch.filter(F.col("qid") < 6).write.mode("append").parquet(src)
    q_batch.filter(F.col("qid") >= 6).write.mode("append").parquet(src)

    stream_knn(base, stream_queries(spark, src), out, ck, k=5, distance="l2")

    got = sorted(
        (r["qid"], r["rank"], r["neighbor_id"])
        for r in spark.read.parquet(out).collect()
    )
    exact = sorted(
        (r["qid"], r["rank"], r["neighbor_id"])
        for r in flat_knn(base, q_batch, k=5).collect()
    )
    assert got == exact


def test_calibrate_split_buffer(base, queries):
    """optimize_split_buffer parity (calibrate.h:171): shrinking the
    exploration window below the calibrated uniform size while widening
    the result capacity must keep the target recall; with a cost model
    that prices traversal by window, the optimizer picks a split
    configuration (capacity >= window) and never a failing one."""
    from scalablevectorsearch_spark.operators.calibrate import (
        calibrate_split_buffer,
    )

    idx = vamana_build(base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2)
    idx.graph.cache().count()
    gt = flat_knn(base, queries, k=5, distance="l2")
    gt.cache()

    uniform = calibrate_window(
        lambda w: vamana_search(idx, queries, k=5, search_window_size=w),
        gt, k=5, target_recall=0.9, min_window=1, max_window=64,
    )
    res = calibrate_split_buffer(
        lambda w, cap: vamana_search(
            idx, queries, k=5, search_window_size=w, buffer_capacity=cap
        ),
        gt, k=5, target_recall=0.9,
        window=uniform.search_window_size, capacity_upper=64,
        cost_fn=lambda w, cap: 10.0 * w + cap,  # traversal dominates
    )
    assert res.recall >= 0.9
    assert res.buffer_capacity >= max(res.search_window_size, 5)
    assert res.search_window_size <= uniform.search_window_size
    # the chosen config is never costlier than the uniform baseline
    assert res.cost <= 10.0 * uniform.search_window_size + uniform.search_window_size
    assert len(res.probes) >= 1


def test_stream_knn_vamana_backend(spark, embeddings, tmp_path):
    """stream_knn's search_fn override serves the stream from a Vamana
    index with the same operator the batch path uses: exhaustive-window
    streamed answers == batch flat answers."""
    from scalablevectorsearch_spark.operators.flat import flat_knn
    from scalablevectorsearch_spark.operators.vamana import (
        VamanaParams,
        vamana_build,
        vamana_search,
    )
    from scalablevectorsearch_spark.streaming.search import (
        stream_knn,
        stream_queries,
    )

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    q_batch = base.filter(F.col("id") < 10).selectExpr("id as qid", "vector")
    src = str(tmp_path / "qstream")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q_batch.filter(F.col("qid") < 5).write.mode("append").parquet(src)
    q_batch.filter(F.col("qid") >= 5).write.mode("append").parquet(src)

    idx = vamana_build(
        base, VamanaParams(graph_max_degree=16, window_size=50), n_shards=2
    )
    idx.graph.persist().count()
    stream_knn(
        base, stream_queries(spark, src), out, ck, k=5,
        search_fn=lambda q, k: vamana_search(idx, q, k, search_window_size=4096),
    )

    got = sorted(
        (r["qid"], r["rank"], r["neighbor_id"])
        for r in spark.read.parquet(out).collect()
    )
    exact = sorted(
        (r["qid"], r["rank"], r["neighbor_id"])
        for r in flat_knn(base, q_batch, k=5).collect()
    )
    assert got == exact
