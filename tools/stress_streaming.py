"""Streaming throughput stress (VERDICT r7 task 5).

The streaming gates (streaming_knn / streaming_dedup / upsert_log /
window_agg) prove correctness at toy scale; this run records SUSTAINED
RATES at 1M+ rows and proves drained-vs-batch equality by hash:

 1. ingest/upsert: 1.25M upsert records (1M initial load + 200k
    re-upserts + 50k tombstones) drained through ingest_vectors in
    multiple availableNow micro-batches (maxFilesPerTrigger bounds the
    batch size) -> latest_view, hash-compared against the same
    resolution computed in batch over the identical inputs.
 2. stream_knn: 2000 queries drained in micro-batches against the 1M
    live base, results hash-compared against batch flat_knn.

Usage: python tools/stress_streaming.py [n_rows] (default 1_000_000)
Appends one BENCH_HISTORY.jsonl line tagged {"stress_streaming": N}
with rows/sec for each leg. Not a latency benchmark — availableNow
drain wall-time is the honest bulk-rate number a backfill/catch-up
run would see; continuous-trigger latency is a different measurement.
"""

import json
import os
import shutil
import sys
import time
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F
from pyspark.sql import Window

from scalablevectorsearch_spark.session import get_spark
from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.sources.vecs import _uniform_rows
from scalablevectorsearch_spark.streaming.ingest import (
    ingest_vectors,
    latest_view,
    stream_vectors,
)
from scalablevectorsearch_spark.streaming.search import stream_knn, stream_queries

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
N_UPSERT, N_DELETE, N_QUERIES, DIM, K = N // 5, N // 20, 2000, 64, 10
SEED = 23

spark = get_spark("stress-streaming")
out = f"{ROOT}/_artifacts/stress_streaming_{N}"
shutil.rmtree(out, ignore_errors=True)
os.makedirs(out)
timings: dict[str, float] = {}
rates: dict[str, float] = {}


def gen_df(ids_df, stream, extra):
    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            X = _uniform_rows(ids, DIM, SEED, stream)
            out_pdf = pd.DataFrame({"id": ids, "vector": list(X)})
            for k, v in extra(ids).items():
                out_pdf[k] = v
            yield out_pdf

    return ids_df.mapInPandas(
        fn, "id long, vector array<float>, is_delete boolean, seq long"
    )


qsrc = f"{out}/query_src"
queries = (
    spark.range(N_QUERIES)
    .select(F.col("id").cast("long"))
    .mapInPandas(
        lambda batches: (
            __import__("pandas").DataFrame(
                {
                    "qid": pdf["id"].to_numpy(dtype=np.int64),
                    "vector": list(
                        _uniform_rows(pdf["id"].to_numpy(dtype=np.int64), DIM, SEED, 9)
                    ),
                }
            )
            for pdf in batches
            if len(pdf)
        ),
        "qid long, vector array<float>",
    )
)
queries.repartition(8).write.mode("overwrite").parquet(qsrc)

def knn_hash(df):
    return (
        df.select(
            F.xxhash64(
                "qid", "rank", "neighbor_id", F.col("distance").cast("string")
            ).alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("s"), F.count("*").alias("n"))
        .collect()[0]
    )


MAINT_ONLY = os.environ.get("STRESS_STREAMING_MAINT_ONLY") == "1"
# MAINT_ONLY=1 runs ONLY the maintenance loop (leg 3) — the task-8
# shape is BASE_N=1M/1% steps, which needs N=2e7 sizing, but legs 1-2
# at 2e7 write ~20 GB of upsert/knn sources this host cannot always
# spare next to a live build; the env flag decouples them.
n_batches = knn_batches = 0
if not MAINT_ONLY:
    # ---- build the upsert stream: 3 waves, written as many small files so
    # maxFilesPerTrigger yields genuine multi-batch drains ----
    load = gen_df(
        spark.range(N).select(F.col("id").cast("long")),
        0,
        lambda ids: {"is_delete": False, "seq": np.zeros(len(ids), dtype=np.int64)},
    )
    upserts = gen_df(
        spark.range(N_UPSERT).select((F.col("id") * 5 % N).cast("long").alias("id")),
        2,
        lambda ids: {"is_delete": False, "seq": np.full(len(ids), 1, dtype=np.int64)},
    )
    deletes = gen_df(
        spark.range(N_DELETE).select((F.col("id") * 7 % N).cast("long").alias("id")),
        0,
        lambda ids: {"is_delete": True, "seq": np.full(len(ids), 2, dtype=np.int64)},
    )
    src = f"{out}/upsert_src"
    load.repartition(16).write.mode("append").parquet(src)
    upserts.repartition(4).write.mode("append").parquet(src)
    deletes.repartition(2).write.mode("append").parquet(src)
    n_src = spark.read.parquet(src).count()

    # ---- leg 1: drain the upsert log ----
    t0 = time.time()
    stream = (
        spark.readStream.schema("id long, vector array<float>, is_delete boolean, seq long")
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    ingest_vectors(stream, f"{out}/upsert_log", f"{out}/ckpt_ingest")
    timings["ingest_drain"] = round(time.time() - t0, 1)
    n_batches = len(
        [f for f in os.listdir(f"{out}/ckpt_ingest/commits") if not f.startswith(".")]
    )
    rates["ingest_rows_per_sec"] = round(n_src / timings["ingest_drain"])
    live = latest_view(spark, f"{out}/upsert_log")

    # batch-computed expectation over the SAME inputs (no __batch tie-break
    # needed: seq is unique per id by construction)
    batch_log = spark.read.parquet(src)
    w = Window.partitionBy("id").orderBy(F.col("seq").desc())
    expected = (
        batch_log.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (~F.col("is_delete")))
        .select("id", "vector")
    )


    def table_hash(df):
        return (
            df.select(
                F.xxhash64(
                    F.col("id"), F.concat_ws(",", F.col("vector").cast("array<string>"))
                ).alias("h")
            )
            .agg(F.expr("bit_xor(h)").alias("s"), F.count("*").alias("n"))
            .collect()[0]
        )


    h_live, h_exp = table_hash(live), table_hash(expected)
    assert (h_live["s"], h_live["n"]) == (h_exp["s"], h_exp["n"]), (
        "drained upsert view != batch resolution",
        h_live,
        h_exp,
    )
    print(
        f"ingest: {n_src} rows in {timings['ingest_drain']}s "
        f"({rates['ingest_rows_per_sec']}/s, {n_batches} micro-batches), "
        f"live view {h_live['n']} rows == batch",
        flush=True,
    )

    # ---- leg 2: stream_knn over the live base ----
    base = live.persist()
    base.count()

    t0 = time.time()
    qstream = (
        spark.readStream.schema("qid long, vector array<float>")
        .option("maxFilesPerTrigger", 2)
        .parquet(qsrc)
    )
    stream_knn(base, qstream, f"{out}/knn_out", f"{out}/ckpt_knn", k=K)
    timings["knn_drain"] = round(time.time() - t0, 1)
    knn_batches = len(
        [f for f in os.listdir(f"{out}/ckpt_knn/commits") if not f.startswith(".")]
    )
    rates["knn_queries_per_sec"] = round(N_QUERIES / timings["knn_drain"], 1)

    drained = spark.read.parquet(f"{out}/knn_out")
    want = flat_knn(base, spark.read.parquet(qsrc), k=K)

    h_got, h_want = knn_hash(drained), knn_hash(want)
    assert (h_got["s"], h_got["n"]) == (h_want["s"], h_want["n"]), (
        "drained stream_knn != batch flat_knn",
        h_got,
        h_want,
    )
    print(
        f"stream_knn: {N_QUERIES} queries over {h_live['n']} base rows in "
        f"{timings['knn_drain']}s ({rates['knn_queries_per_sec']} q/s, "
        f"{knn_batches} micro-batches), drained hash == batch flat_knn",
        flush=True,
    )

# ---- leg 3: streaming MAINTENANCE loop (VERDICT r8 task 7) ----
# the reference's dynamic-regression shape
# (tools/benchmark_inputs/vamana/dynamic-regression.toml:15-75):
# continuous micro-batches of ~1% adds + ~1% deletes applied to a live
# dynamic Vamana index via foreachBatch, consolidate every 5 batches,
# then prove the post-loop index is EXACT on the final state (200-query
# exhaustive-window search hash-equals batch flat k-NN over the
# expected live set) and holds an operational recall floor.
from scalablevectorsearch_spark.operators.dynamic import (
    add_points,
    consolidate,
    delete_entries,
    dynamic_search,
    dynamic_vamana,
)
from scalablevectorsearch_spark.operators.vamana import VamanaParams, vamana_build

BASE_N = max(20_000, N // 20)
NB, CONSOLIDATE_EVERY = 15, 5
STEP = max(100, BASE_N // 100)  # ~1% per micro-batch
MAINT_SHARDS = max(8, BASE_N // 4096)
MAINT_SWS, MAINT_FLOOR = 60, 0.90
MSTREAM = 5  # vector stream id: regenerable per id for the batch oracle
# MAINT_ROUTED=1 (r11, VERDICT r10 task 4): run the maintenance loop on
# a KMEANS-ROUTED index — inserts stamp to their nearest cell through
# the build's own _sharded assignment, consolidate repairs the replica
# shards the layout names, and the operational recall row probes a
# budgeted fraction of shards (the 100 TB serving shape) instead of
# full fan-out. The exhaustive hash check still fans out fully (it is
# the exactness oracle).
MAINT_ROUTED = os.environ.get("STRESS_STREAMING_MAINT_ROUTED") == "1"
MAINT_SHARD_BY = "kmeans" if MAINT_ROUTED else "hash"

base0 = gen_df(
    spark.range(BASE_N).select(F.col("id").cast("long")),
    MSTREAM,
    lambda ids: {"is_delete": False, "seq": np.zeros(len(ids), dtype=np.int64)},
).select("id", "vector")
dynp = VamanaParams(graph_max_degree=32, window_size=100, build_dtype="float32")
t0 = time.time()
dyn = dynamic_vamana(
    vamana_build(base0, dynp, n_shards=MAINT_SHARDS, shard_by=MAINT_SHARD_BY)
)
dyn.index.graph.cache().count()
timings["maint_build"] = round(time.time() - t0, 1)

# micro-batch files: adds draw fresh ids past BASE_N, deletes tombstone
# a disjoint slice of the initial range — batch effects commute, so
# file arrival order cannot change the final state
msrc = f"{out}/maint_src"
for b in range(NB):
    adds = spark.range(BASE_N + b * STEP, BASE_N + (b + 1) * STEP).select(
        F.col("id").cast("long")
    )
    dels = spark.range(b * STEP, (b + 1) * STEP).select(F.col("id").cast("long"))
    batch = gen_df(
        adds, MSTREAM,
        lambda ids: {"is_delete": False, "seq": np.full(len(ids), b, dtype=np.int64)},
    ).unionByName(
        gen_df(
            dels, MSTREAM,
            lambda ids: {"is_delete": True, "seq": np.full(len(ids), b, dtype=np.int64)},
        )
    )
    batch.coalesce(1).write.mode("append").parquet(msrc)

# drain the stream with a LIGHT foreachBatch (collect the ~2%-of-base
# micro-batch to the driver — sub-second), then run the heavy graph
# mutations per collected batch OUTSIDE the callback: a foreachBatch
# that blocks for minutes (consolidate) starves the py4j callback
# socket and kills the stream (measured: Py4JNetworkException mid-loop)
collected: list = []


def collect_batch(bdf, bid):
    collected.append((bid, bdf.toPandas()))


t0 = time.time()
mstream = (
    spark.readStream.schema("id long, vector array<float>, is_delete boolean, seq long")
    .option("maxFilesPerTrigger", 1)
    .parquet(msrc)
)
mq = (
    mstream.writeStream.foreachBatch(collect_batch)
    .option("checkpointLocation", f"{out}/ckpt_maint")
    .trigger(availableNow=True)
    .start()
)
mq.awaitTermination()
timings["maint_drain"] = round(time.time() - t0, 1)
assert len(collected) == NB, (len(collected), NB)

t0 = time.time()
n_consolidations = 0
per_batch: list[float] = []
for i, (_bid, pdf) in enumerate(sorted(collected, key=lambda t: t[0]), 1):
    tb = time.time()
    adds_pdf = pdf[~pdf["is_delete"]][["id", "vector"]]
    dels_pdf = pdf[pdf["is_delete"]][["id"]]
    if len(adds_pdf):
        dyn = add_points(
            dyn,
            spark.createDataFrame(adds_pdf, "id long, vector array<float>"),
        )
    if len(dels_pdf):
        dyn = delete_entries(dyn, spark.createDataFrame(dels_pdf, "id long"))
    if i % CONSOLIDATE_EVERY == 0:
        dyn = consolidate(dyn)
        n_consolidations += 1
    per_batch.append(round(time.time() - tb, 2))
    print(f"maint batch {i}/{NB}: {per_batch[-1]}s", flush=True)
timings["maint_apply"] = round(time.time() - t0, 1)
n_mutated = 2 * NB * STEP
rates["maint_rows_per_sec"] = round(
    n_mutated / (timings["maint_drain"] + timings["maint_apply"]), 1
)
# per-batch apply times expose whether maintenance cost grows with the
# mutation chain (plan growth / cache pressure) — the bounded-storage +
# amortized-checkpoint contract says it must stay flat
maint_state = {"consolidations": n_consolidations, "apply_per_batch": per_batch}

# expected final state, regenerated in batch from the id algebra
live_ids = spark.range(NB * STEP, BASE_N + NB * STEP).select(F.col("id").cast("long"))
expected_final = gen_df(
    live_ids, MSTREAM,
    lambda ids: {"is_delete": False, "seq": np.zeros(len(ids), dtype=np.int64)},
).select("id", "vector").persist()
assert expected_final.count() == BASE_N

maint_q = spark.read.parquet(qsrc)
sample_mq = maint_q.orderBy("qid").limit(200)
t0 = time.time()
exh_kw = {"n_probes": MAINT_SHARDS} if MAINT_ROUTED else {}
got = dynamic_search(dyn, sample_mq, k=K, search_window_size=8192, **exh_kw)
want_m = flat_knn(expected_final, sample_mq, k=K)
h_m_got, h_m_want = knn_hash(got), knn_hash(want_m)
timings["maint_exhaustive_check"] = round(time.time() - t0, 1)
assert (h_m_got["s"], h_m_got["n"]) == (h_m_want["s"], h_m_want["n"]), (
    "post-loop exhaustive dynamic search != batch flat k-NN on final state",
    h_m_got,
    h_m_want,
)

# operational recall floor on the full query set. Routed mode runs the
# SERVING posture: recall-TARGETED probing fitted on the mutated index
# (a fixed n_shards/2 budget measured 0.7785 on this uniform base —
# uniform data is the no-structure worst case, and the whole point of
# target_recall= is that the budget adapts to the geometry instead of
# being hand-picked). The fit's exact groundtruth is computed on the
# post-mutation base internally; the held-out split validates before
# serving.
t0 = time.time()
op_cal_stats: dict = {}
op_kw = (
    {
        "target_recall": MAINT_FLOOR,
        "calibration_queries": 32,
        "calibration_validation_queries": 16,
        "calibration_stats": op_cal_stats,
    }
    if MAINT_ROUTED
    else {}
)
res_op = dynamic_search(
    dyn, maint_q, k=K, search_window_size=MAINT_SWS, **op_kw
).persist()
res_op.count()
timings["maint_search_op"] = round(time.time() - t0, 1)
gt_final = flat_knn(expected_final, maint_q, k=K).select("qid", "neighbor_id").persist()
n_gtf = gt_final.count()
matched = (
    res_op.select("qid", "neighbor_id")
    .join(gt_final, ["qid", "neighbor_id"], "left_semi")
    .count()
)
maint_recall = round(matched / n_gtf, 4)
res_op.unpersist()
gt_final.unpersist()
expected_final.unpersist()
assert maint_recall >= MAINT_FLOOR, f"maintenance recall {maint_recall} < {MAINT_FLOOR}"
print(
    f"maintenance loop: {NB} micro-batches x {STEP} adds + {STEP} deletes over "
    f"{BASE_N} base rows in {timings['maint_drain']}s drain + "
    f"{timings['maint_apply']}s apply ({rates['maint_rows_per_sec']}/s, "
    f"{maint_state['consolidations']} consolidations), exhaustive hash == "
    f"batch, recall {maint_recall} @ sws {MAINT_SWS}",
    flush=True,
)

line = {
    "ts": __import__("datetime")
    .datetime.now(__import__("datetime").timezone.utc)
    .isoformat(timespec="seconds"),
    "stress_streaming": N,
    "timings": timings,
    "rates": rates,
    "micro_batches": {"ingest": n_batches, "knn": knn_batches, "maintenance": NB},
    "maintenance": {
        "base_n": BASE_N, "step": STEP, "consolidations": maint_state["consolidations"],
        "recall": maint_recall, "sws": MAINT_SWS, "floor": MAINT_FLOOR,
        "apply_per_batch": maint_state["apply_per_batch"],
        "shard_by": MAINT_SHARD_BY,
        "op_calibration": {
            k: (round(v, 2) if isinstance(v, float) else v)
            for k, v in op_cal_stats.items()
            if k != "validation"
        }
        if MAINT_ROUTED
        else None,
    },
    "drained_hash_equal": (not MAINT_ONLY) or None,  # None = legs 1-2 skipped
    "load_avg": round(os.getloadavg()[0], 1),
}
with open(ROOT / "BENCH_HISTORY.jsonl", "a") as f:
    f.write(json.dumps(line) + "\n")
print(json.dumps(line), flush=True)
shutil.rmtree(out, ignore_errors=True)
print("STRESS-STREAMING DONE", flush=True)
