"""Golden recall-curve parity against the reference's published example
numbers (VERDICT r10 task 3).

The reference's example_vamana.py generates its dataset with
numpy.random.RandomState(seed).normal (bindings/python/src/svs/common.py
:203-212 — RandomState chosen there explicitly for its backward-
compatibility guarantee, i.e. bit-reproducible), seeds 1234 (data) /
5678 (queries), 10000x128 f32, then builds Vamana with
VamanaBuildParameters(graph_max_degree=64, window_size=128)
(example_vamana.py:114-117), whose remaining fields resolve to the
library defaults alpha=1.2 (lib/preprocessor.h:182),
max_candidate_pool_size=3*window=384 and prune_to=degree-4=60
(index.h:1062-1072), use_full_search_history=true (preprocessor.h:181),
and asserts recall@10 at search windows 10/20/30/40 equals
{0.5664, 0.7397, 0.8288, 0.8837} +- 0.05
(examples/python/example_vamana.py:33-45).

This script regenerates that EXACT dataset (same RandomState draws),
runs the same build through this engine's vamana_build (single shard —
the reference example is one graph), and prints the measured curve next
to the published one. Exits non-zero if any point is outside the
reference's own +-0.05 epsilon. The pytest pin lives in
tests/test_golden_curve.py; this tool is the full-size (10k x 128)
evidence run recorded in COVERAGE.md.
"""

import json
import sys
import time
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F

from scalablevectorsearch_spark.session import get_spark
from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.vamana import (
    VamanaParams,
    vamana_build,
    vamana_search,
)

EXPECTED = {10: 0.5664, 20: 0.7397, 30: 0.8288, 40: 0.8837}
EPSILON = 0.05  # the example's own assert_equal epsilon

N, NQ, D = 10000, 1000, 128

spark = get_spark("golden-curve")

data = np.random.RandomState(1234).normal(size=(N, D)).astype(np.float32)
queries = np.random.RandomState(5678).normal(size=(NQ, D)).astype(np.float32)

base = spark.createDataFrame(
    [(i, data[i].tolist()) for i in range(N)], "id long, vector array<float>"
)
qdf = spark.createDataFrame(
    [(i, queries[i].tolist()) for i in range(NQ)], "qid long, vector array<float>"
)

# exact groundtruth@10 — the reference computes it with its Flat index;
# exact is exact
gt = (
    flat_knn(base, qdf, k=10, distance="l2", round_to=4)
    .select("qid", "neighbor_id")
    .persist()
)
n_gt = gt.count()

params = VamanaParams(
    graph_max_degree=64,
    alpha=1.2,
    window_size=128,
    max_candidate_pool_size=384,
    prune_to=60,
    use_full_search_history=True,
)
t0 = time.time()
index = vamana_build(base, params, n_shards=1)
index.graph.persist().count()
build_sec = round(time.time() - t0, 1)
print(f"build: {build_sec}s", flush=True)

curve = {}
bad = {}
for sws in (10, 20, 30, 40):
    res = vamana_search(index, qdf, k=10, search_window_size=sws)
    matched = (
        res.select("qid", "neighbor_id")
        .join(gt, ["qid", "neighbor_id"], "left_semi")
        .count()
    )
    r = matched / n_gt
    curve[sws] = round(r, 4)
    print(f"sws={sws}: recall@10 = {r:.4f} (reference {EXPECTED[sws]})", flush=True)
    if abs(r - EXPECTED[sws]) >= EPSILON:
        bad[sws] = (round(r, 4), EXPECTED[sws])

line = {
    "golden_curve": curve,
    "expected": EXPECTED,
    "epsilon": EPSILON,
    "build_sec": build_sec,
    "n": N,
    "nq": NQ,
    "d": D,
}
with open(ROOT / "BENCH_HISTORY.jsonl", "a") as f:
    import datetime

    line["ts"] = datetime.datetime.now(datetime.timezone.utc).isoformat(
        timespec="seconds"
    )
    f.write(json.dumps(line) + "\n")
print(json.dumps(line), flush=True)

assert not bad, f"curve points outside the reference epsilon: {bad}"
print("GOLDEN CURVE OK", flush=True)
