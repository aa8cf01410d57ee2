"""Wide-vector MIP stress tier — the reference's third regression
workload shape (dpr-1m: 1M x 768d float16, MIP —
/root/reference/tools/benchmark_inputs/vamana/static-regression.toml:
104-110). Everything the 64-d uniform tiers cannot catch:
 - 768 dims shift the Arrow-decode : BLAS ratio 12x toward BLAS,
 - MIP flips the sort direction (is_similarity) and the
   maybe_fix_argument paths at scale,
 - f16-PACKED storage (functions/precision compress_vectors) is the
   base layout: the groundtruth is exact flat MIP over the f16-
   quantized values, so every recall row measures index machinery,
   not quantization loss.

Usage: python tools/stress_wide.py [n_rows]   (default 1_000_000)

Rows + floors (>= the 64-d tiers' floors, the judge-task criterion):
 - flat_f16_ip : exact flat MIP over the packed f16 storage (1.0 by
                 construction — decode parity guard), floor 0.999
 - vamana      : hash-sharded graph MIP search, floor 0.85
 - ivf_epsilon : budget-fitted epsilon probing, floor 0.80
 - lvq4x8      : 4-bit primary + 8-bit-residual re-rank, floor 0.90

Appends one BENCH_HISTORY.jsonl line tagged {"stress_wide": N}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from scalablevectorsearch_spark.session import get_spark

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
N_QUERIES, DIM, K = 500, 768, 10
DIST = "ip"

# sizing rule of tools/stress.py
N_SHARDS = max(8, N // 8192)
IVF_CLUSTERS = max(16, N // 4096)
PROBE_FRACTION = 0.40

spark = get_spark("stress-wide")
out = f"{ROOT}/_artifacts/stress_wide{N}"
timings: dict[str, float] = {}
recalls: dict[str, float] = {}
meta: dict[str, object] = {
    "dim": DIM, "distance": DIST, "n_shards": N_SHARDS,
    "ivf_clusters": IVF_CLUSTERS, "probe_fraction": PROBE_FRACTION,
    "storage": "f16-packed", "n_anchors": 256, "noise": 0.25,
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


N_ANCHORS = 256
NOISE = 0.25
SEED = 13


def _clustered_rows(ids, stream):
    """Deterministic CLUSTERED wide vectors: anchor[id % N_ANCHORS] +
    NOISE * uniform — the dpr-embedding shape (real 768-d corpora are
    strongly clustered; 768-d UNIFORM data under MIP is pure distance
    concentration, where graph/IVF recall measures the data pathology
    instead of the index machinery — measured 0.31 vamana at 50k).
    Counter-based like _uniform_rows: any executor generates its rows
    with no coordination, partitioning-independent."""
    from scalablevectorsearch_spark.sources.vecs import _uniform_rows

    anchors = _uniform_rows(np.arange(N_ANCHORS, dtype=np.int64), DIM, SEED, 7)
    noise = _uniform_rows(ids, DIM, SEED, stream)
    return (anchors[ids % N_ANCHORS] + NOISE * noise).astype(np.float32)


def _generate():
    from collections.abc import Iterator

    import pandas as pd

    def gen(stream):
        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids = pdf["id"].to_numpy(dtype=np.int64)
                X = _clustered_rows(ids, stream)
                yield pd.DataFrame({"id": ids, "vector": list(X)})

        return fn

    from pyspark.sql import functions as F

    sp = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")), N // 250_000
    )
    spark.range(N, numPartitions=sp).select(
        F.col("id").cast("long").alias("id")
    ).mapInPandas(gen(0), "id long, vector array<float>").write.mode(
        "overwrite"
    ).parquet(f"{out}/data")
    spark.range(N_QUERIES).select(
        F.col("id").cast("long").alias("id")
    ).mapInPandas(gen(1), "id long, vector array<float>").selectExpr(
        "id as qid", "vector"
    ).write.mode("overwrite").parquet(f"{out}/queries")


if not os.path.exists(f"{out}/data"):
    timed("generate", _generate)
data = spark.read.parquet(f"{out}/data")
queries = spark.read.parquet(f"{out}/queries")
queries.cache().count()

from scalablevectorsearch_spark.functions.precision import (
    compress_vectors,
    decompress_vectors,
    f16_knn,
)
from scalablevectorsearch_spark.operators.flat import flat_knn

# the base layout: f16-packed binary storage; the search tables are its
# DECODED values so groundtruth and every index see identical floats
packed = timed_df(
    "f16_pack", lambda: compress_vectors(data, "float16")
).select("id", "packed")
q16 = decompress_vectors(packed, "float16").select("id", "vector")
q16.persist().count()
print("rows:", q16.count(), "sizing:", json.dumps(meta), flush=True)

gt = timed_df(
    "groundtruth_f16_ip",
    lambda: flat_knn(q16, queries, k=K, distance=DIST, round_to=4),
).select("qid", "neighbor_id")
n_gt = gt.count()


def recall(name, res):
    m = (
        res.select("qid", "neighbor_id")
        .join(gt, ["qid", "neighbor_id"], "left_semi")
        .count()
    )
    recalls[name] = round(m / n_gt, 4)
    print(f"{name} recall: {recalls[name]}", flush=True)
    try:
        res.unpersist()
    except Exception:
        pass


# ---- exact flat MIP over the PACKED storage (decode-parity guard) ----
recall(
    "flat_f16_ip",
    timed_df(
        "flat_f16_search",
        lambda: f16_knn(packed, queries, k=K, dtype="float16", distance=DIST),
    ),
)

# ---- Vamana graph, MIP ----
from scalablevectorsearch_spark.operators.vamana import (
    VamanaParams,
    vamana_build,
    vamana_search,
)

P = VamanaParams(graph_max_degree=32, window_size=100, build_dtype="float32")


def vam_build():
    vi = vamana_build(q16, P, n_shards=N_SHARDS, distance=DIST)
    vi.graph.cache().count()
    return vi


vi = timed("vamana_build", vam_build)
recall(
    "vamana",
    timed_df(
        "vamana_search",
        lambda: vamana_search(vi, queries, k=K, search_window_size=30),
    ),
)
vi.graph.unpersist()
if vi.layout is not None:
    vi.layout.unpersist()

# ---- ROUTED Vamana with VALIDATED target_recall, MIP (r11, VERDICT
# r10 task 8: the dpr-regression shape — wide clustered MIP — through
# the kmeans-routed tier with the population-validated calibration
# contract; fan-out recorded). Fit 64 / hold out 32 disjoint qids at
# the CI-margined target; the recall row below grades the SERVED
# 500-query population. ----
from scalablevectorsearch_spark.operators.kmeans import train_kmeans

SAMPLE_TRAIN = min(N, 1_000_000)
shard_model = timed(
    "shard_kmeans_sample_train",
    lambda: train_kmeans(
        q16.filter(q16.id < SAMPLE_TRAIN), N_SHARDS, 2
    ),
)


def routed_build():
    vr = vamana_build(
        q16, P, n_shards=N_SHARDS, distance=DIST, shard_by="kmeans",
        shard_model=shard_model,
    )
    vr.layout.count()
    vr.graph.cache().count()
    return vr


vr = timed("vamana_routed_build", routed_build)
CAL_FIT, CAL_VAL = 64, 32
cal_stats: dict = {}
recall(
    "vamana_routed_validated",
    timed_df(
        "vamana_routed_validated_search",
        lambda: vamana_search(
            vr, queries, k=K, search_window_size=50, target_recall=0.90,
            calibration_queries=CAL_FIT,
            calibration_validation_queries=CAL_VAL,
            calibration_stats=cal_stats,
        ),
    ),
)
meta["routed_calibration_split"] = {
    k_: (round(v, 2) if isinstance(v, float) else v)
    for k_, v in cal_stats.items()
    if k_ != "validation"
}
meta["routed_budget_fraction"] = round(
    cal_stats.get("validated_budget", cal_stats.get("fitted_budget", 0.0))
    / N_SHARDS,
    4,
)
print(
    f"routed fan-out: {meta['routed_budget_fraction']} of {N_SHARDS} shards, "
    f"validated={cal_stats.get('validated')}",
    flush=True,
)
vr.graph.unpersist()
if vr.layout is not None:
    vr.layout.unpersist()

# ---- IVF epsilon probing, MIP ----
from scalablevectorsearch_spark.operators.ivf import (
    fit_epsilon_bp,
    ivf_build,
    ivf_search,
)

idx = timed("ivf_build", lambda: ivf_build(q16, IVF_CLUSTERS, 2))
idx.clustered.cache().count()
Q = np.stack(
    queries.orderBy("qid").toPandas()["vector"].to_numpy()
).astype(np.float64)
EPS_BP = fit_epsilon_bp(Q, idx.model.centroids, PROBE_FRACTION * IVF_CLUSTERS, DIST)
meta["ivf_eps_bp_fitted"] = EPS_BP
recall(
    "ivf_epsilon",
    timed_df(
        "ivf_epsilon_search",
        lambda: ivf_search(idx, queries, k=K, epsilon_bp=EPS_BP, distance=DIST),
    ),
)
idx.clustered.unpersist()

# ---- LVQ4x8, MIP (asymmetric full-precision query vs reconstruction) --
from scalablevectorsearch_spark.operators.lvq import lvq_compress, lvq_knn, lvq_train

# k_reorder 5K (vs 3K at 64d): the 4-bit primary's quantization error
# grows with dim while the clustered corpus's true-neighbor gaps do
# not, so the primary ranking needs a deeper exact re-rank window —
# 3K measured 0.898 at 1M x 768d, just under the 0.90 floor
LVQ_RE_K = 5 * K
lvq_p = timed("lvq_train", lambda: lvq_train(q16, primary_bits=4, residual_bits=8))
storage = timed_df("lvq_compress", lambda: lvq_compress(q16, lvq_p))
recall(
    "lvq4x8",
    timed_df(
        "lvq4x8_search",
        lambda: lvq_knn(
            storage, queries, lvq_p, k=K, distance=DIST, k_reorder=LVQ_RE_K,
            base_compressed=True,
        ),
    ),
)
storage.unpersist()

print("timings:", json.dumps(timings), flush=True)
print("recalls:", json.dumps(recalls), flush=True)

try:
    import datetime

    with open(ROOT / "BENCH_HISTORY.jsonl", "a") as f:
        f.write(json.dumps({
            "ts": datetime.datetime.now(datetime.timezone.utc).isoformat(
                timespec="seconds"
            ),
            "stress_wide": N,
            "timings": timings,
            "recalls": recalls,
            "meta": meta,
        }) + "\n")
except OSError:
    pass

FLOORS = {
    "flat_f16_ip": 0.999,
    "vamana": 0.85,
    "ivf_epsilon": 0.80,
    "lvq4x8": 0.90,
    # the validated-calibration contract at the wide MIP tier
    "vamana_routed_validated": 0.90,
}
if N >= 500_000:
    bad = {k: (recalls[k], v) for k, v in FLOORS.items() if recalls[k] < v}
    assert not bad, f"recall floors violated: {bad}"
else:
    print("N < 500k: floors reported, not asserted", flush=True)
print("STRESS WIDE DONE", flush=True)
