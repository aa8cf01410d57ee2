"""Large-scale stress for the COMPRESSED dataset families (LVQ /
LeanVec) — the storage kinds a 100 TB deployment would actually scan.

Usage: python tools/stress_compressed.py [n_rows]   (default 500_000)

Reuses the counter-based dataset of tools/stress.py (same
_artifacts/stress{N} directory — generated here if absent), so the
compressed rows are directly comparable with that run's exact-flat
segment.

Segments (sizing follows tools/stress.py's rule):
 - lvq_compress:   LVQ4x8 storage build (nibble-packed TINYINT codes
   + residual bytes), persisted — the 4-8x scan-bandwidth artifact.
 - lvq4x8_search:  flat k-NN over the persisted codes: packed 4-bit
   primary candidates (k_reorder = 3k) + 8-bit-residual re-rank.
 - leanvec_train:  distributed PCA to DIM/2 (second-moment partial
   sums + driver eigh).
 - leanvec_search: projected flat primary (half the dims = half the
   distance flops/bandwidth) + exact full-dim re-rank of the top 10k
   candidates per query.

Appends one BENCH_HISTORY.jsonl line tagged {"stress_compressed": N}
and asserts recall floors (uniform data is the worst case for BOTH
families: no spectrum for PCA to keep, widest per-vector ranges for
LVQ — real corpora sit higher).
"""

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from scalablevectorsearch_spark.session import get_spark
from scalablevectorsearch_spark.sources.vecs import generate_test_dataset_distributed

N = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
N_QUERIES, DIM, K = 500, 64, 10
LVQ_RE_K = 3 * K
LV_DIMS = DIM // 2
LV_RE_K = 10 * K

spark = get_spark("stress-compressed")
out = f"{ROOT}/_artifacts/stress{N}"
timings: dict[str, float] = {}
recalls: dict[str, float] = {}
meta: dict[str, object] = {
    "lvq_bits": [4, 8], "lvq_re_k": LVQ_RE_K,
    "leanvec_dims": LV_DIMS, "leanvec_re_k": LV_RE_K,
}


def timed(name, fn):
    t0 = time.time()
    r = fn()
    timings[name] = round(time.time() - t0, 1)
    print(f"{name}: {timings[name]}s", flush=True)
    return r


if not os.path.exists(f"{out}/data"):
    timed(
        "generate",
        lambda: generate_test_dataset_distributed(
            spark, N, N_QUERIES, DIM, out, seed=7, k=K
        ),
    )
data = spark.read.parquet(f"{out}/data")
data.cache()
print("rows:", data.count(), flush=True)
queries = spark.read.parquet(f"{out}/queries")
gt = spark.read.parquet(f"{out}/groundtruth").select("qid", "neighbor_id")
gt.cache()
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


def timed_df(name, fn):
    from pyspark.storagelevel import StorageLevel

    def run():
        df = fn().persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        return df

    return timed(name, run)


# ---- LVQ4x8 ----
from scalablevectorsearch_spark.operators.lvq import lvq_compress, lvq_knn, lvq_train

p48 = timed("lvq_train", lambda: lvq_train(data, primary_bits=4, residual_bits=8))


def build_storage():
    from pyspark.storagelevel import StorageLevel

    st = lvq_compress(data, p48).select(
        "id", "lvq_codes", "lvq_lo", "lvq_step", "lvq_rcodes"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    st.count()
    return st


storage = timed("lvq_compress", build_storage)
recall(
    "lvq4x8",
    timed_df(
        "lvq4x8_search",
        lambda: lvq_knn(
            storage, queries, p48, k=K, distance="l2",
            k_reorder=LVQ_RE_K, base_compressed=True,
        ),
    ),
)
storage.unpersist()

# ---- LeanVec DIM/2 on the uniform data (worst case) ----
# Uniform data is isotropic: PCA to DIM/2 discards exactly half the
# signal, so primary candidates degrade with N — this row is a
# MACHINERY guard (projection + two-stage re-rank at scale), not a
# quality claim. The quality claim is the low-rank segment below.
from scalablevectorsearch_spark.operators.leanvec import leanvec_knn, leanvec_train

model = timed("leanvec_train", lambda: leanvec_train(data, LV_DIMS))
recall(
    "leanvec_uniform",
    timed_df(
        "leanvec_uniform_search",
        lambda: leanvec_knn(data, queries, model, k=K, k_reorder=LV_RE_K),
    ),
)
# measured decay of the uniform primary: recall 0.297 @ 100k ->
# 0.111 @ 5M (fixed k_reorder, isotropic spectrum) — by design

# ---- LeanVec DIM/2 on LOW-RANK data (the intended regime) ----
# Real embedding corpora have fast-decaying spectra — model that with
# a deterministic rank-16-dominant map of the same rows: y = x @ (AB/16
# + noise*I). PCA to DIM/2 then captures the dominant subspace and the
# primary finds the right candidates; groundtruth is the engine's exact
# flat scan over the mapped table.
import numpy as np

from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.leanvec import LeanVecModel, leanvec_project

LOW_RANK, LOW_NOISE = 16, 0.05
rngM = np.random.default_rng(123)
A = rngM.uniform(-1.0, 1.0, size=(DIM, LOW_RANK))
B = rngM.uniform(-1.0, 1.0, size=(LOW_RANK, DIM))
MIX = A @ B / LOW_RANK + LOW_NOISE * np.eye(DIM)
mix_model = LeanVecModel(MIX, MIX, mean=tuple(0.0 for _ in range(DIM)))

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def mapped(df, id_col):
    return (
        leanvec_project(df, mix_model, "data", "vector", "__y")
        .select(F.col(id_col), F.col("__y").alias("vector"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


data_lr = mapped(data, "id")
queries_lr = mapped(queries, "qid")
gt_lr = (
    flat_knn(data_lr, queries_lr, k=K)
    .select("qid", "neighbor_id")
    .persist(StorageLevel.MEMORY_AND_DISK)
)
n_gt_lr = gt_lr.count()
model_lr = timed("leanvec_lowrank_train", lambda: leanvec_train(data_lr, LV_DIMS))
# the serving shape: the projection is computed ONCE and persisted
# (the reference stores the LeanVec dataset projected); searches scan
# the half-width table + re-rank
def _persist(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


pb_lr = timed(
    "leanvec_lowrank_project",
    lambda: _persist(
        leanvec_project(data_lr, model_lr, "data", "vector", "pv").select(
            "id", F.col("pv").alias("vector")
        )
    ),
)
res_lr = timed_df(
    "leanvec_lowrank_search",
    lambda: leanvec_knn(
        data_lr, queries_lr, model_lr, k=K, k_reorder=LV_RE_K,
        base_projected=pb_lr,
    ),
)
m_lr = (
    res_lr.select("qid", "neighbor_id")
    .join(gt_lr, ["qid", "neighbor_id"], "left_semi")
    .count()
)
recalls["leanvec_lowrank"] = round(m_lr / n_gt_lr, 4)
print(f"leanvec_lowrank recall: {recalls['leanvec_lowrank']}", flush=True)
for df in (res_lr, pb_lr, data_lr, queries_lr, gt_lr):
    df.unpersist()

line = {
    "ts": __import__("datetime").datetime.now(
        __import__("datetime").timezone.utc
    ).isoformat(timespec="seconds"),
    "stress_compressed": N,
    "timings": timings,
    "recalls": recalls,
    "meta": meta,
}
with open(ROOT / "BENCH_HISTORY.jsonl", "a") as f:
    f.write(json.dumps(line) + "\n")
print(json.dumps(line), flush=True)

# floors: LVQ4x8's residual re-rank restores near-exact ranking
# (observed >= 0.999 at 100k); uniform LeanVec guards machinery only
# (isotropic spectrum — primary recall decays with N by design); the
# low-rank row is the quality claim in LeanVec's intended regime.
FLOORS = {"lvq4x8": 0.90, "leanvec_uniform": 0.05, "leanvec_lowrank": 0.90}
bad = {k: (recalls[k], v) for k, v in FLOORS.items() if recalls[k] < v}
assert not bad, f"recall floors violated: {bad}"
print("STRESS COMPRESSED DONE", flush=True)
