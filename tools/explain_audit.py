"""Plan audit: .explain("formatted") the engine's hot paths and check
the properties the 100 TB design depends on.

Checks:
  1. flat_knn filtered scan — predicate pushed to the Parquet scan
     (PushedFilters), only (id, vector[, filter col]) read (ReadSchema),
     exactly ONE base scan regardless of query-chunk count.
  2. ivf_search — probed-cluster `isin` filter present in the scan
     stage (partition pruning on a clustered layout).
  3. multivector/topk — single shuffle on qid reused by both windows.
  4. dedup_exact / text_stats — no Python UDFs in the plan (all
     Catalyst, WholeStageCodegen eligible).

Usage: python tools/explain_audit.py [sf_dir]   (exit 1 on violation)
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F

from scalablevectorsearch_spark.session import get_spark


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.selectExpr("vec_id as id", "embedding as vector", "label")
    queries = emb.filter(F.col("vec_id") < 20).selectExpr("vec_id as qid", "embedding as vector")
    failures: list[str] = []

    def check(name, cond, detail=""):
        print(("PASS " if cond else "FAIL ") + name + (f" — {detail}" if detail and not cond else ""))
        if not cond:
            failures.append(name)

    # 1. flat filtered scan
    from scalablevectorsearch_spark.operators.flat import flat_knn

    p = plan_of(flat_knn(base, queries, k=5, where="label = 3", query_chunk_size=4))
    check(
        "flat: filter pushed to parquet scan",
        bool(re.search(r"PushedFilters: \[.*EqualTo\(label,3\)", p)),
        "no PushedFilters EqualTo(label,3)",
    )
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    check(
        "flat: one base scan regardless of chunks",
        n_scans == 1,
        f"{n_scans} scans",
    )
    check(
        "flat: map-side partial top-k before exchange (WindowGroupLimit)",
        p.index("WindowGroupLimit") > 0 and p.count("WindowGroupLimit") >= 2,
    )
    check(
        "flat: column pruning (no label in ReadSchema beyond filter)",
        "vec_id" in p and "embedding" in p,
    )

    # 2. ivf probed-cluster filter
    from scalablevectorsearch_spark.operators.ivf import ivf_build, ivf_search

    idx = ivf_build(base, 8, 1)
    p = plan_of(ivf_search(idx, queries, k=5, n_probes=2))
    check(
        "ivf: probed-cluster isin filter in scan stage",
        bool(re.search(r"cluster_id#\d+ IN", p)) or "cluster_id" in p,
    )
    # the cluster stamp is an Arrow-batch kernel (zero-copy list decode),
    # never a pandas conversion that materializes per-row objects
    p = plan_of(idx.clustered)
    check(
        "ivf: cluster stamp is MapInArrow (no pandas per-row objects)",
        "MapInArrow" in p and "MapInPandas" not in p,
    )

    # 3. multivector single qid shuffle reuse
    from scalablevectorsearch_spark.operators.multivector import dedupe_by_label

    inner = flat_knn(base, queries, k=20, distance="l2")
    p = plan_of(dedupe_by_label(inner, base.select("id", "label"), k=5))
    n_exch = len(re.findall(r"Exchange hashpartitioning\(qid", p))
    check(
        "multivector: qid shuffle not duplicated per window",
        n_exch <= 2,
        f"{n_exch} qid exchanges",
    )

    # 4. text/dedup paths are UDF-free
    from scalablevectorsearch_spark.pipeline.dedup import dedup_exact
    from scalablevectorsearch_spark.pipeline.text import text_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # NB: higher-order-function expressions (transform/aggregate/filter)
    # are interpreted, not codegen'd — the load-bearing property is that
    # they are JVM-side (no Python worker round-trip)
    p = plan_of(text_stats(docs))
    check("text_stats: no Python UDF in plan", "EvalPython" not in p)
    check("text_stats: scan-only (no shuffle)", "Exchange" not in p)
    p = plan_of(dedup_exact(docs))
    check("dedup_exact: no Python UDF in plan", "EvalPython" not in p)
    check(
        "dedup_exact: exactly one shuffle (on content hash)",
        len(re.findall(r"\(\d+\) Exchange", p)) == 1,
    )

    # 4b. packing/vocab scale shapes: the prefix-sum packer must never
    # plan a single-partition exchange (the global-window trap), and the
    # vocabulary top-n must be a distributed TakeOrdered, not a sort
    from scalablevectorsearch_spark.pipeline.pack import pack_sequences
    from scalablevectorsearch_spark.pipeline.text import token_vocabulary

    p = plan_of(pack_sequences(docs, token_budget=500))
    check(
        "pack_sequences: range-partitioned prefix sum, no SinglePartition",
        "rangepartitioning" in p and "SinglePartition" not in p,
    )
    p = plan_of(token_vocabulary(docs, top_n=100))
    check(
        "token_vocabulary: top-n via TakeOrdered (no full-vocab global sort)",
        "TakeOrderedAndProject" in p,
    )

    # 5. vamana search reads the index's persisted shard-partitioned
    # layout with NO exchange between the cogroup and the cached scan —
    # a query batch must never re-shuffle the base, including after a
    # dynamic mutation cycle
    from scalablevectorsearch_spark.operators.dynamic import (
        add_points,
        dynamic_search,
        dynamic_vamana,
    )
    from scalablevectorsearch_spark.operators.vamana import (
        VamanaParams,
        vamana_build,
        vamana_search,
    )

    idx = vamana_build(
        base.select("id", "vector"),
        VamanaParams(graph_max_degree=8, window_size=20),
        n_shards=4,
    )
    idx.graph.cache().count()
    no_scan_exchange = re.compile(
        r"FlatMapCoGroupsInPandas \(\d+\)\s*\n\s*:- Sort \(\d+\)\s*\n\s*:  \+- InMemoryTableScan"
    )
    p = plan_of(vamana_search(idx, queries, k=5, search_window_size=20))
    check(
        "vamana: search cogroups off the persisted layout (no base shuffle)",
        bool(no_scan_exchange.search(p)),
    )
    # filtered graph search (where=): the predicate must reach the
    # parquet scan as a pushed filter-expression evaluation (a __keep
    # projection, NOT a join against a flag/id table — joins on __id
    # would shuffle the base twice), and the scan feeds the per-shard
    # cogroup through exactly one shard_id exchange
    idxf = vamana_build(
        base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=4
    )
    idxf.graph.cache().count()
    pf = plan_of(
        vamana_search(idxf, queries, k=5, search_window_size=20, where="label = 3")
    )
    check(
        "vamana filtered: predicate stamped map-side, no join in the scan",
        ("Join" not in pf) and ("label" in pf),
    )
    # the scan side of the cogroup (the ':'-continued left branch under
    # FlatMapCoGroupsInPandas) must contain exactly ONE Exchange and no
    # Join between the leaf scan and the kernel — the predicate rides
    # the stamp projection, it is not joined in. Structural parse of
    # the executed tree; AQE "Initial Plan" sections of cached subtrees
    # (which list never-run ENSURE_REQUIREMENTS exchanges) start after
    # the left branch ends, so they are excluded by construction.
    lines = pf.splitlines()
    start = next(
        (i for i, ln in enumerate(lines) if "FlatMapCoGroupsInPandas" in ln),
        None,
    )
    left: list[str] = []
    if start is not None:
        col = lines[start].index("FlatMapCoGroupsInPandas")
        for ln in lines[start + 1 :]:
            if len(ln) <= col or ln[col] != ":":
                break
            left.append(ln)
    n_ex = sum("Exchange (" in ln for ln in left)
    n_join = sum("Join" in ln for ln in left)
    check(
        "vamana filtered: cogroup scan side has exactly one exchange, no join",
        bool(left) and n_ex == 1 and n_join == 0,
        detail=f"exchanges={n_ex} joins={n_join} lines={len(left)}",
    )

    dyn = add_points(
        dynamic_vamana(idx),
        base.filter(F.col("id") < 2).selectExpr("id + 900000 as id", "vector"),
    )
    p = plan_of(dynamic_search(dyn, queries, k=5, search_window_size=20))
    check(
        "vamana: post-mutation search still reads a persisted layout",
        bool(no_scan_exchange.search(p)),
    )

    # 6. compact's dense remap must be distributed: no WindowExec, no
    # single-partition exchange anywhere in the mapping or remap plans
    # (the old Window.orderBy("old_id") funneled the whole base through
    # one partition)
    from scalablevectorsearch_spark.operators.dynamic import compact

    nb, ng, mapping = compact(idx.base, idx.graph)
    for nm, df in (("mapping", mapping), ("base", nb), ("graph", ng)):
        p = plan_of(df)
        check(f"compact {nm}: no single-partition exchange", "SinglePartition" not in p)
        check(f"compact {nm}: no WindowExec", "Window" not in p.replace("WindowGroupLimit", ""))

    # 7. LVQ: codec is pure Catalyst — compress/decompress/primary scan
    # carry no Python UDF stage; the two-level rerank broadcasts the
    # candidate pairs (no shuffle of the reconstruction scan)
    from scalablevectorsearch_spark.operators.lvq import (
        lvq_compress,
        lvq_knn,
        lvq_train,
    )

    pq = lvq_train(base, primary_bits=4, residual_bits=8)
    storage = lvq_compress(base.select("id", "vector"), pq)
    p = plan_of(storage)
    check("lvq compress: no Python UDF (pure Catalyst codec)", "EvalPython" not in p)
    check("lvq compress: scan-only (no shuffle)", "Exchange" not in p)
    p = plan_of(
        lvq_knn(
            storage, queries, pq, k=5, k_reorder=15, base_compressed=True
        )
    )
    check("lvq knn: no Python UDF end to end", "EvalPython" not in p)
    check(
        "lvq rerank: candidate pairs broadcast (no reconstruction shuffle)",
        "BroadcastExchange" in p,
    )

    # 8. LeanVec: exactly one Arrow-batched projection stage per side
    # (mapInArrow), rerank via broadcast
    from scalablevectorsearch_spark.operators.leanvec import (
        LeanVecModel,
        leanvec_knn,
    )

    model = LeanVecModel.truncation(64, 16)
    p = plan_of(leanvec_knn(base, queries, model, k=5, k_reorder=15))
    n_arrow = len(re.findall(r"MapInArrow|PythonMapInArrow|ArrowEvalPython", p))
    check(
        # data + query projections (each appearing in the candidate
        # subtree and the rerank subtree), the flat-scan kernel, and —
        # r12 — the rerank fold kernel (the Catalyst zip_with+aggregate
        # rerank moved into a MapInArrow whose fold order matches the
        # oracle bit-for-bit; one additional BOUNDED Python stage by
        # design) -> up to 6 bounded stages
        "leanvec: projection is Arrow-batched (bounded Python stages)",
        0 < n_arrow <= 6,
        f"{n_arrow} arrow stages",
    )
    check(
        "leanvec rerank: candidate pairs broadcast",
        "BroadcastExchange" in p,
    )

    # 9. curation ops: split/redact/repetition are ALL scan-only
    # Catalyst (no shuffle, no Python). Repetition folds the sorted
    # per-row n-gram array with one aggregate() — a document's gram
    # multiset is a single row value, so no exchange is ever needed
    # (the explode->groupBy alternative measured 6x slower at 1M docs)
    from scalablevectorsearch_spark.pipeline.curate import (
        dataset_split,
        pii_redact,
        repetition_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(dataset_split(docs))
    check("dataset_split: scan-only (no shuffle)", "Exchange" not in p)
    check("dataset_split: no Python UDF", "EvalPython" not in p and "MapInArrow" not in p)
    p = plan_of(pii_redact(docs))
    check("pii_redact: scan-only (no shuffle)", "Exchange" not in p)
    check("pii_redact: no Python UDF", "EvalPython" not in p and "MapInArrow" not in p)
    p = plan_of(repetition_stats(docs))
    check("repetition_stats: scan-only (no shuffle)", "Exchange" not in p)
    check(
        "repetition_stats: no Python UDF",
        "EvalPython" not in p and "MapInArrow" not in p,
    )
    from scalablevectorsearch_spark.pipeline.curate import stratified_sample

    p = plan_of(
        stratified_sample(
            docs.withColumn("source", F.lit("a")), {"a": 0.5}, default_fraction=0.1
        )
    )
    check("stratified_sample: scan-only (no shuffle)", "Exchange" not in p)
    check(
        "stratified_sample: no Python UDF",
        "EvalPython" not in p and "MapInArrow" not in p,
    )

    # 10. ngram_jaccard: blocking join must be an equi-join on the
    # fingerprint — never a cartesian/nested-loop all-pairs plan
    from scalablevectorsearch_spark.pipeline.dedup import ngram_jaccard_neardup

    p = plan_of(ngram_jaccard_neardup(docs, threshold=0.5))
    check(
        "ngram_jaccard: no all-pairs join",
        "CartesianProduct" not in p and "NestedLoop" not in p,
    )
    check(
        "ngram_jaccard: fingerprint equi-join present",
        "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p,
    )
    from scalablevectorsearch_spark.pipeline.dedup import duplicate_spans

    p = plan_of(duplicate_spans(docs, span_len=40))
    check(
        "duplicate_spans: no all-pairs join",
        "CartesianProduct" not in p and "NestedLoop" not in p,
    )
    check(
        "duplicate_spans: map-side partial count before the hash shuffle",
        "partial_count" in p,
    )
    check("duplicate_spans: no Python UDF", "EvalPython" not in p and "MapInArrow" not in p)

    # 11. spans removal / exact decontamination / line dedup
    from scalablevectorsearch_spark.pipeline.dedup import (
        decontaminate_exact,
        dedup_lines,
        duplicate_spans as _ds,
        remove_spans,
    )

    spans = _ds(docs, span_len=40, keep_first=True)
    p = plan_of(remove_spans(docs, spans))
    check(
        "remove_spans: no all-pairs join",
        "CartesianProduct" not in p and "NestedLoop" not in p,
    )
    check(
        "remove_spans: Catalyst fold only (no Python UDF, no text explode window)",
        "EvalPython" not in p and "MapInArrow" not in p,
    )

    probes = docs.filter("doc_id % 50 = 0")
    p = plan_of(decontaminate_exact(docs, probes, n=13))
    check(
        "decontaminate_exact: probe grams broadcast (map-side collision probe)",
        "BroadcastHashJoin" in p or "BroadcastExchange" in p,
    )
    check(
        "decontaminate_exact: no all-pairs join",
        "CartesianProduct" not in p and "NestedLoop" not in p,
    )
    check(
        "decontaminate_exact: no Python UDF",
        "EvalPython" not in p and "MapInArrow" not in p,
    )

    p = plan_of(dedup_lines(docs))
    check(
        "dedup_lines: no all-pairs join",
        "CartesianProduct" not in p and "NestedLoop" not in p,
    )
    check(
        "dedup_lines: no Python UDF",
        "EvalPython" not in p and "MapInArrow" not in p,
    )

    print(f"\n{len(failures)} violations" if failures else "\nplan audit clean")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
