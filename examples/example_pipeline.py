"""LLM-data-pipeline example — quality stats, dedup, near-dup mining
over the documents + embeddings tables.

Run: python examples/example_pipeline.py [sf_dir]
"""

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F

from scalablevectorsearch_spark.pipeline.dedup import dedup_exact, dedup_minhash
from scalablevectorsearch_spark.pipeline.neardup import embedding_neardup_clustered
from scalablevectorsearch_spark.pipeline.text import lang_id, text_stats
from scalablevectorsearch_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("example-pipeline")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "vec_id as id", "transform(embedding, x -> cast(x as double)) as vector"
    )

    # 1. metadata passes (each one scan/aggregation over the corpus),
    # then the Gopher/C4-style filter as a narrow metadata join —
    # thresholds can be re-tuned without touching the text again
    from scalablevectorsearch_spark.pipeline.curate import (
        quality_filter,
        repetition_stats,
    )

    decisions = quality_filter(
        text_stats(docs), repetition_stats(docs, n=2), lang_id(docs),
        min_quality_e4=3500,
    )
    decisions.groupBy("reason").count().orderBy("reason").show()
    docs = docs.join(decisions.filter("keep").select("doc_id"), "doc_id")
    print(f"quality filter kept {docs.count()} docs")

    # 1a. domain mixing: deterministic per-source rates (keep curated
    # sources, downsample crawl-like ones) — one scan-only CASE, and
    # growing the corpus never flips an existing row's decision
    from scalablevectorsearch_spark.pipeline.curate import stratified_sample

    mixed = stratified_sample(
        docs, {"src0": 1.0, "src1": 0.25}, default_fraction=0.8
    )
    docs = mixed.filter("kept").drop("kept", "source")
    print(f"domain mixing kept {docs.count()} docs")

    # 1b. scrub obvious PII from the kept docs (emails/IPs/SSNs/phones)
    from scalablevectorsearch_spark.pipeline.curate import pii_redact

    red = pii_redact(docs)
    n_pii = red.filter(
        (F.col("n_email") + F.col("n_ip") + F.col("n_ssn") + F.col("n_phone")) > 0
    ).count()
    docs = red.selectExpr("doc_id", "clean_text as text")
    print(f"pii redaction touched {n_pii} docs")

    # 2b. boilerplate strip before fingerprinting/dedup
    from scalablevectorsearch_spark.pipeline.text import normalize_text

    clean = normalize_text(docs)
    print(f"normalized {clean.count()} docs (URLs/emails stripped)")

    # 3. exact + near dedup (banded MinHash, never all-pairs), then
    # collapse the pair graph to canonical ids (A~B, B~C -> one cluster)
    from scalablevectorsearch_spark.pipeline.dedup import dedup_components

    exact = dedup_exact(docs).filter("is_dup").count()
    near = dedup_minhash(docs, threshold=0.5)
    comp = dedup_components(near)
    n_clusters_dup = comp.select("canonical_id").distinct().count()
    print(
        f"exact dups: {exact}, near-dup pairs (j>=0.5): {near.count()}, "
        f"dup clusters: {n_clusters_dup}"
    )

    # 4. embedding-space near-dups, cluster-bucketed
    pairs = embedding_neardup_clustered(emb, threshold=0.9, n_clusters=16)
    print(f"embedding near-dup pairs (cos>=0.9): {pairs.count()}")

    # 5. decontaminate the corpus against an eval/test probe set
    # (here: perturbed copies of a few corpus docs, standing in for a
    # benchmark suite): drop every training doc a probe traces to
    from scalablevectorsearch_spark.pipeline.dedup import decontaminate

    probes = docs.filter(F.col("doc_id") % 29 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )
    contam = decontaminate(docs, probes, threshold=0.5)
    poisoned = contam.select("doc_id").distinct()
    train = docs.join(poisoned, "doc_id", "left_anti")
    print(f"decontamination: dropped {docs.count() - train.count()} corpus docs")

    # 6. deterministic train/val/test assignment — md5-stable, so
    # growing the corpus never reassigns an existing document
    from scalablevectorsearch_spark.pipeline.curate import dataset_split

    train = dataset_split(train)
    train.groupBy("split").count().orderBy("split").show()
    train = train.filter("split = 'train'").drop("split")

    # 7. tokenizer vocabulary + fixed-token-budget shards for training
    from scalablevectorsearch_spark.pipeline.pack import pack_sequences
    from scalablevectorsearch_spark.pipeline.text import token_vocabulary

    vocab = token_vocabulary(train, top_n=20)
    print("top tokens:", [r["token"] for r in vocab.collect()][:10])
    bins = pack_sequences(train, token_budget=2048)
    print(
        f"packed into {bins.agg(F.max('bin_id')).collect()[0][0] + 1} "
        f"shards of ~2048 tokens"
    )


if __name__ == "__main__":
    main()
