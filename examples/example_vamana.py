"""Vamana end-to-end example — build, search across window sizes,
calibrate, save/load (the Spark analog of the reference's
examples/python/example_vamana.py flow).

Run: python examples/example_vamana.py [sf_dir]
"""

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.calibrate import calibrate_window
from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.vamana import (
    VamanaParams,
    vamana_build,
    vamana_search,
)
from scalablevectorsearch_spark.session import get_spark
from scalablevectorsearch_spark.sources.index_store import load_vamana, save_vamana


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("example-vamana")
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "vec_id as id", "embedding as vector", "label"
    )
    queries = base.filter(F.col("id") < 50).selectExpr("id as qid", "vector")

    # 1. build (test-scale reference params: degree 32, alpha 1.2, window 100)
    params = VamanaParams(alpha=1.2, graph_max_degree=32, window_size=100)
    index = vamana_build(base, params, n_shards=4)

    # 2. recall curve over search window sizes
    gt = flat_knn(base, queries, k=10, distance="l2").select("qid", "neighbor_id")
    gt.cache()
    n_gt = gt.count()
    for sws in (10, 20, 30, 40):
        res = vamana_search(index, queries, k=10, search_window_size=sws).select(
            "qid", "neighbor_id"
        )
        recall = res.join(gt, ["qid", "neighbor_id"], "left_semi").count() / n_gt
        print(f"search_window_size={sws:3d}  recall@10={recall:.4f}")

    # 3. calibrate to a target recall
    cal = calibrate_window(
        lambda w: vamana_search(index, queries, k=10, search_window_size=w),
        gt, k=10, target_recall=0.95, max_window=128,
    )
    print(f"calibrated window={cal.search_window_size} recall={cal.recall:.4f}")

    # 4. persist + reload
    save_vamana(index, str(ROOT / "_artifacts/example_vamana"))
    loaded = load_vamana(spark, str(ROOT / "_artifacts/example_vamana"))
    again = vamana_search(loaded, queries, k=10, search_window_size=30).count()
    print(f"reloaded index search rows: {again}")

    # 5. SPANN-style cluster shards with a centroid-graph router: probes
    # are picked by traversing a Vamana over the shard centroids
    # (sublinear in the shard count) instead of the exact argmin
    from scalablevectorsearch_spark.operators.router import build_centroid_router

    routed = vamana_build(base, params, n_shards=4, shard_by="kmeans")
    router = build_centroid_router(routed.shard_model, distance="l2")
    res = vamana_search(
        routed, queries, k=10, search_window_size=30, n_probes=2, router=router
    ).select("qid", "neighbor_id")
    recall = res.join(gt, ["qid", "neighbor_id"], "left_semi").count() / n_gt
    print(f"router-probed (2/4 shards) recall@10={recall:.4f}")

    # 6. recall-targeted probe budget: instead of hand-picking how many
    # shards to probe, binary-search the budget against groundtruth to
    # a target recall (the reference's calibrate.h philosophy applied
    # to probe cost) — the returned operating point is the budget a
    # production deployment would run
    from scalablevectorsearch_spark.operators.calibrate import calibrate_probe_budget

    cal_b = calibrate_probe_budget(
        lambda b: vamana_search(
            routed, queries, k=10, search_window_size=30, router=router,
            probe_budget=b,
        ),
        flat_knn(base, queries, k=10, distance="l2"), k=10,
        target_recall=0.90, max_budget=float(routed.n_shards),
    )
    print(
        f"calibrated probe budget={cal_b.probe_budget} "
        f"recall={cal_b.recall:.4f} (target 0.90)"
    )

    # 7. filtered search (where=): the filtered-RAG query — predicate
    # restricts what is RETURNED while the graph is still traversed
    # through non-matching nodes; at an exhaustive window it is exactly
    # the filtered k-NN (flat.h:290-295 predicate semantics composed
    # with the graph index)
    fres = vamana_search(
        index, queries, k=10, search_window_size=4096, where="label = 3"
    )
    fgt = flat_knn(base, queries, k=10, distance="l2", where="label = 3")
    match = (
        fres.select("qid", "neighbor_id")
        .join(fgt.select("qid", "neighbor_id"), ["qid", "neighbor_id"], "left_semi")
        .count()
    )
    assert match == fgt.count(), "exhaustive filtered search must be exact"
    print(f"filtered search (label=3): {match} results, exact vs filtered flat")

    # 8. incremental closure: upgrade the PLAIN kmeans-sharded index to
    # a SPANN-closure index by insert-linking only the replica rows —
    # ~0.5x the batch closure rebuild at amplification 2
    from scalablevectorsearch_spark.operators.vamana import closure_link_replicas

    closed = closure_link_replicas(routed, closure_bp=2000)
    amp = closed.layout.count() / base.count()
    cres = vamana_search(
        closed, queries, k=10, search_window_size=30, epsilon_bp=800
    ).select("qid", "neighbor_id")
    crecall = cres.join(gt, ["qid", "neighbor_id"], "left_semi").count() / n_gt
    print(f"incremental closure: amplification {amp:.2f}, recall@10={crecall:.4f}")


if __name__ == "__main__":
    main()
