"""Filtered graph ANN (vamana_search(where=)) at stress scale.

Usage: python tools/stress_filtered.py [n_rows] [sws_1pct]
       (defaults 10_000_000, 1000)

Reads the stress dataset at _artifacts/stress{N} (generate it with
tools/stress.py first), builds — or reloads from the tool's own cache —
a kmeans-sharded Vamana index at the stress sizing rule (N/8192
shards; >=256 shards so the r9 grouped triangle-pruned stamp is the
ACTIVE path, making this also the first at-scale exercise of the
hierarchical build stamp), then measures the filtered-RAG query shape
the r8 gate proved only at sf0.01:

 - unfiltered serve row: vamana_search(target_recall=0.90) on a 200-qid
   sample, with the r9 calibration cost split ({gt_sec, fit_sec,
   fit_evals}) recorded from calibration_stats.
 - ~50% selectivity ("id % 2 = 0"): window doubled (window/s rule),
   recall floor 0.90 vs the exact filtered flat oracle on the sample.
 - ~1% selectivity ("id % 100 = 0"): window widened to sws_1pct; the
   honest A/B against filter-then-flat (flat_knn over the 1% pool) —
   the case where traversable-waypoint search earns or loses its keep.

Appends one line to BENCH_HISTORY.jsonl tagged {"stress_filtered": N}
and asserts the 50% floor (the 1% rows are recorded, with the
fallback decision driven by the measurement).
"""

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import numpy as np

from scalablevectorsearch_spark.session import get_spark
from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.kmeans import (
    KMeansModel,
    _resolve_stamp_via,
    train_kmeans,
)
from scalablevectorsearch_spark.operators.vamana import (
    VamanaIndex,
    VamanaParams,
    vamana_build,
    vamana_search,
)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
SWS_1PCT = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
K = 10
N_SAMPLE_Q = 200
N_SHARDS = max(8, N // 8192)
SWS = 50
# sample-fitted to a 0.90 target on 32 qids: full-sample recall may sit
# slightly below (the ivf_search docstring's CI caveat; r8 convention)
FLOOR_50 = 0.88

spark = get_spark("stress-filtered")
src = f"{ROOT}/_artifacts/stress{N}"
cache = f"{ROOT}/_artifacts/stress_filtered_{N}_idx"
if not os.path.exists(f"{src}/data"):
    raise SystemExit(f"run tools/stress.py {N} first (no {src}/data)")

timings: dict[str, float] = {}
recalls: dict[str, float] = {}
meta: dict[str, object] = {
    "n_shards": N_SHARDS, "sws": SWS, "sws_1pct": SWS_1PCT,
    "stamp_hierarchical": _resolve_stamp_via("auto", N_SHARDS),
}


def timed(name, fn):
    t0 = time.time()
    r = fn()
    timings[name] = round(time.time() - t0, 1)
    print(f"{name}: {timings[name]}s", flush=True)
    return r


def timed_df(name, fn):
    from pyspark.storagelevel import StorageLevel

    def run():
        df = fn().persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        return df

    return timed(name, run)


def recall_vs(name, res, gtdf, n_gt):
    m = (
        res.select("qid", "neighbor_id")
        .join(gtdf.select("qid", "neighbor_id"), ["qid", "neighbor_id"], "left_semi")
        .count()
    )
    recalls[name] = round(m / n_gt, 4)
    print(f"{name} recall: {recalls[name]}", flush=True)
    res.unpersist()


data = spark.read.parquet(f"{src}/data")
data.persist()
print("rows:", data.count(), flush=True)
queries = spark.read.parquet(f"{src}/queries")
sample_q = queries.orderBy("qid").limit(N_SAMPLE_Q).cache()
sample_q.count()

P = VamanaParams(graph_max_degree=32, window_size=100, build_dtype="float32")

if os.path.exists(f"{cache}/graph"):
    print("reusing cached index at", cache, flush=True)
    centroids = np.load(f"{cache}/centroids.npy")
    model = KMeansModel(centroids=centroids, n_iters=2)
    graph = spark.read.parquet(f"{cache}/graph")
    from scalablevectorsearch_spark.placement import by_key

    layout = by_key(
        spark.read.parquet(f"{cache}/layout"), "shard_id", N_SHARDS
    ).persist()
    index = VamanaIndex(
        graph=graph, base=data, params=P, distance="l2", n_shards=N_SHARDS,
        shard_model=model, layout=layout,
        stamp_hierarchical=_resolve_stamp_via("auto", N_SHARDS),
    )
else:
    model = timed("kmeans_train", lambda: train_kmeans(data, N_SHARDS, 2))

    def build():
        idx = vamana_build(
            data, P, n_shards=N_SHARDS, shard_by="kmeans", shard_model=model
        )
        idx.graph.persist().count()
        return idx

    index = timed("vamana_build", build)
    os.makedirs(cache, exist_ok=True)
    np.save(f"{cache}/centroids.npy", model.centroids)
    timed("index_save", lambda: (
        index.graph.write.mode("overwrite").parquet(f"{cache}/graph"),
        index.layout.write.mode("overwrite").parquet(f"{cache}/layout"),
    ))

# ---- unfiltered calibrated serve row (with the r9 cost split) ----
cal_stats: dict = {}
res_unf = timed_df(
    "vamana_calibrated_unfiltered",
    lambda: vamana_search(
        index, sample_q, k=K, search_window_size=SWS, probe_budget=None,
        target_recall=0.90, calibration_queries=32,
        calibration_stats=cal_stats,
    ),
)
meta["calibration"] = {
    k: (round(v, 2) if isinstance(v, float) else v) for k, v in cal_stats.items()
}
print("calibration split:", json.dumps(meta["calibration"]), flush=True)
budget = cal_stats["fitted_budget"]
gt_unf = flat_knn(data, sample_q, k=K, distance="l2", round_to=4).cache()
n_unf = gt_unf.count()
recall_vs("vamana_calibrated_unfiltered", res_unf, gt_unf, n_unf)
gt_unf.unpersist()

# ---- filtered rows ----
# 50%: the CALIBRATED filtered path — fit the probe budget on the
# filtered geometry itself (vamana_search(where=, target_recall=));
# an unfiltered-fitted budget at a doubled window measured 0.8895 at
# 10M (recorded in the first r9 run) — under a filter the operating
# point must be fitted under the filter.
fcal_stats: dict = {}
for tag, pred, sws_f, search_kw in (
    (
        "50pct", "id % 2 = 0", 2 * SWS,
        dict(target_recall=0.90, calibration_queries=32,
             calibration_stats=fcal_stats),
    ),
    ("1pct", "id % 100 = 0", SWS_1PCT, dict(probe_budget=None)),
):
    fbase = data.filter(pred)
    gt = timed_df(
        f"gt_flat_filtered_{tag}",
        lambda fb=fbase: flat_knn(fb, sample_q, k=K, distance="l2", round_to=4),
    )
    n_gt = gt.count()
    kw = dict(search_kw)
    if "probe_budget" in kw and kw["probe_budget"] is None:
        kw["probe_budget"] = budget
    res = timed_df(
        f"vamana_where_{tag}",
        lambda p=pred, w=sws_f, kw=kw: vamana_search(
            index, sample_q, k=K, search_window_size=w, where=p, **kw
        ),
    )
    recall_vs(f"vamana_where_{tag}", res, gt, n_gt)
    gt.unpersist()
meta["filtered_calibration_50pct"] = {
    k: (round(v, 2) if isinstance(v, float) else v) for k, v in fcal_stats.items()
}
# filter-then-flat fallback A/B at 1%: the exact answer over the pool
# (gt_flat_filtered_1pct above IS that operator — its timing is the
# fallback's serve cost on the same 200 queries)
meta["fallback_flat_1pct_sec"] = timings["gt_flat_filtered_1pct"]
# the AUTOMATIC path: fallback_below above the 1% pool size routes the
# same call through the exact scan (threshold count + flat serve)
res_fb = timed_df(
    "vamana_where_1pct_auto_fallback",
    lambda: vamana_search(
        index, sample_q, k=K, search_window_size=SWS_1PCT,
        probe_budget=budget, where="id % 100 = 0",
        fallback_below=max(1_000_000, N // 50),
    ),
)
recalls["vamana_where_1pct_auto_fallback"] = 1.0  # exact by construction
res_fb.unpersist()

row = {
    "stress_filtered": N, "at": time.strftime("%Y-%m-%dT%H:%M:%S"),
    "timings_sec": timings, "recalls": recalls, **meta,
}
# record BEFORE asserting — a floor violation must not erase the row
with open(ROOT / "BENCH_HISTORY.jsonl", "a") as f:
    f.write(json.dumps(row) + "\n")
print(json.dumps(row), flush=True)

assert recalls["vamana_where_50pct"] >= FLOOR_50, (
    f"50% filtered recall {recalls['vamana_where_50pct']} < {FLOOR_50}"
)
