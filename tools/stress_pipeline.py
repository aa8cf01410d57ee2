"""Large-scale stress for the LLM-pipeline text operators — dedup,
decontamination, packing, vocabulary — beyond the sf0.1 gate corpus.

Usage: python tools/stress_pipeline.py [n_docs]   (default 1_000_000)

Corpus: generated DISTRIBUTED and Catalyst-only — each document's
tokens derive from hash(doc_id, position) over a closed vocabulary, so
`spark.range(N)` plus expressions builds ~100-token documents with no
Python and no driver materialization. Deterministic: the same N always
yields the same corpus.

Planted structure (what the invariants check):
 - EXACT dups:    docs with id % 100 == 0 are copied verbatim under
                  id + N        -> dedup_exact must flag every copy.
 - NEAR dups:     docs with id % 101 == 0 are copied with one appended
                  token under id + 2N -> dedup_minhash must pair >= 99%
                  of them with their source (16 perms / 4 bands at
                  jaccard ~0.99; banding miss probability is negligible).
 - CONTAMINATION: docs with id % 103 == 0 are copied (one appended
                  token) into a PROBE corpus under id + 3N ->
                  decontaminate must trace every probe to its source.
 - simhash_neardup runs on a bounded subset (50k) with gate parameters:
   32-bit fingerprints over random text collide at corpus scale (8-bit
   bands ~ N/256 per bucket) — the banded-SimHash join is a
   small/medium-corpus tool; banded MinHash is the corpus-scale path.

pack_sequences is verified EXACTLY at full scale: collect the (tiny)
per-doc (n_tokens, tokens_before) columns and replay the prefix sum in
numpy.

Appends one line to BENCH_HISTORY.jsonl tagged {"stress_pipeline": n}
and asserts the planted-recall floors so silent regressions fail.
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

from pyspark.sql import functions as F

from scalablevectorsearch_spark.session import get_spark

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
VOCAB = 1000
MIN_LEN, LEN_SPREAD = 60, 80
SIMHASH_SUBSET = 50_000

spark = get_spark("stress-pipeline")
timings: dict[str, float] = {}
metrics: dict[str, float] = {}


def timed(name, fn):
    t0 = time.time()
    r = fn()
    timings[name] = round(time.time() - t0, 1)
    print(f"{name}: {timings[name]}s", flush=True)
    return r


def gen_docs(ids_df):
    """(doc_id, text): ~MIN_LEN..MIN_LEN+LEN_SPREAD tokens drawn from a
    closed vocab by hashing (doc_id, position) — pure Catalyst."""
    return ids_df.select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"array_join(transform(sequence(1, {MIN_LEN} + pmod(hash(id), {LEN_SPREAD})),"
            f" i -> concat('w', pmod(hash(id * 131071 + i), {VOCAB}))), ' ')"
        ).alias("text"),
    )


out = f"{ROOT}/_artifacts/stress_docs{N}"
if not os.path.exists(out):
    timed(
        "generate",
        lambda: gen_docs(spark.range(N)).write.parquet(out),
    )
docs = spark.read.parquet(out)
docs.cache()
print("docs:", docs.count(), flush=True)

# ---- text_stats / vocabulary / packing over the clean corpus ----
from scalablevectorsearch_spark.pipeline.text import text_stats, token_vocabulary

timed("text_stats", lambda: text_stats(docs).count())

vocab = timed("token_vocabulary", lambda: token_vocabulary(docs, top_n=VOCAB + 10).collect())
assert len(vocab) == VOCAB, f"expected the closed vocab of {VOCAB}, got {len(vocab)}"
assert [r["rank"] for r in vocab] == list(range(1, VOCAB + 1))
metrics["vocab_size"] = len(vocab)

from scalablevectorsearch_spark.pipeline.pack import pack_sequences

BUDGET = 4096
packed = timed(
    "pack_sequences",
    lambda: pack_sequences(docs, token_budget=BUDGET).select(
        "doc_id", "n_tokens", "tokens_before", "bin_id"
    ).toPandas(),
)
packed = packed.sort_values("doc_id").reset_index(drop=True)
toks = packed["n_tokens"].to_numpy(dtype=np.int64)
want_before = np.cumsum(toks) - toks
assert np.array_equal(packed["tokens_before"].to_numpy(dtype=np.int64), want_before), (
    "distributed prefix sum diverged from the naive replay"
)
assert np.array_equal(
    packed["bin_id"].to_numpy(dtype=np.int64), want_before // BUDGET
)
metrics["pack_total_tokens"] = int(toks.sum())
metrics["pack_n_bins"] = int(packed["bin_id"].max()) + 1
print(f"pack: {metrics['pack_total_tokens']} tokens -> {metrics['pack_n_bins']} bins", flush=True)

# ---- exact dedup with planted copies ----
from scalablevectorsearch_spark.pipeline.dedup import (
    decontaminate,
    dedup_exact,
    dedup_minhash,
    simhash_neardup,
)

exact_src = docs.filter(F.col("doc_id") % 100 == 0)
n_exact = exact_src.count()
with_copies = docs.unionByName(
    exact_src.select((F.col("doc_id") + N).alias("doc_id"), "text")
)
flagged = timed(
    "dedup_exact",
    lambda: dedup_exact(with_copies)
    .filter("is_dup")
    .filter(F.col("doc_id") >= N)
    .count(),
)
metrics["exact_planted_recall"] = round(flagged / n_exact, 4)
print("exact planted recall:", metrics["exact_planted_recall"], flush=True)
assert metrics["exact_planted_recall"] == 1.0

# ---- minhash near-dup with planted near-copies ----
near_src = docs.filter(F.col("doc_id") % 101 == 0)
n_near = near_src.count()
near = near_src.select(
    (F.col("doc_id") + 2 * N).alias("doc_id"),
    F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
)
pairs = timed(
    "dedup_minhash",
    lambda: dedup_minhash(
        docs.unionByName(near), n_shingle=3, n_perm=16, n_bands=4, threshold=0.5
    )
    .filter((F.col("doc_b") >= 2 * N) & (F.col("doc_a") == F.col("doc_b") - 2 * N))
    .count(),
)
metrics["minhash_planted_recall"] = round(pairs / n_near, 4)
print("minhash planted recall:", metrics["minhash_planted_recall"], flush=True)
assert metrics["minhash_planted_recall"] >= 0.99

# ---- connected components over a planted chain (A ~ B ~ C) ----
from scalablevectorsearch_spark.pipeline.dedup import dedup_components

chain2 = near_src.select(
    (F.col("doc_id") + 4 * N).alias("doc_id"),
    F.concat(F.col("text"), F.lit(" zzz yyy")).alias("text"),
)
chain_pairs = timed(
    "dedup_minhash_chain",
    # chain-critical path: 32 perms in 8 bands square the per-pair
    # banding miss of 16/4 (~1.7e-4 -> ~3e-8 at 0.97 Jaccard), so a
    # 10M-doc chain stress expects ZERO split chains; the timed cost vs
    # the 16/4 dedup_minhash row above IS the documented price of chain
    # integrity (2x minhash + band volume)
    lambda: dedup_minhash(
        docs.unionByName(near).unionByName(chain2),
        n_shingle=3, n_perm=32, n_bands=8, threshold=0.5,
    ).persist(),
)
comp = timed("dedup_components", lambda: dedup_components(chain_pairs).persist())
# transitive collapse: every copy (id >= 2N) must trace to an ORIGINAL
# canonical (< N) — the 2nd-degree copy often has no direct pair with
# its source, only through the 1st copy. (Natural near-dups between
# originals may further merge clusters, so the canonical is "some
# original", not necessarily that copy's own source.)
bad = comp.filter(
    (F.col("doc_id") >= 2 * N) & (F.col("canonical_id") >= N)
).count()
n_members = comp.filter(F.col("doc_id") >= 2 * N).count()
metrics["components_bad_canonicals"] = int(bad)
metrics["components_chain_members"] = int(n_members)
print(f"components: {n_members} chain members, {bad} bad canonicals", flush=True)
# a "bad canonical" here is a {near, chain2} cluster whose near->
# original MinHash edge was a BANDING miss. Single-pass 16/4 banding
# misses a 0.97-Jaccard pair with p ~ 1.7e-4 (the r6 10M run saw 2 in
# 198k members); the 32/8 pair mining above squares that to
# ~3e-8, so the assert is exact: ZERO bad canonicals at any N.
# dedup_components itself raises on non-convergence, so component
# bugs cannot hide here either.
assert bad == 0 and n_members >= 2 * n_near * 0.9999
chain_pairs.unpersist()
comp.unpersist()

# ---- cross-corpus decontamination ----
probe_src = docs.filter(F.col("doc_id") % 103 == 0)
n_probe = probe_src.count()
probes = probe_src.select(
    (F.col("doc_id") + 3 * N).alias("doc_id"),
    F.concat(F.col("text"), F.lit(" qqq")).alias("text"),
)
found = timed(
    "decontaminate",
    lambda: decontaminate(docs, probes, threshold=0.5)
    .filter(F.col("doc_id") == F.col("probe_id") - 3 * N)
    .count(),
)
metrics["decon_planted_recall"] = round(found / n_probe, 4)
print("decontaminate planted recall:", metrics["decon_planted_recall"], flush=True)
assert metrics["decon_planted_recall"] >= 0.99

# ---- simhash join on the bounded subset ----
sub = docs.filter(F.col("doc_id") < SIMHASH_SUBSET)
sub_near = sub.filter(F.col("doc_id") % 101 == 0).select(
    (F.col("doc_id") + 2 * N).alias("doc_id"),
    F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
)
n_sub_near = sub_near.count()
sh_pairs = timed(
    "simhash_neardup_50k",
    lambda: simhash_neardup(
        sub.unionByName(sub_near), n_bands=4, max_hamming=3,
        max_bucket_size=2000,
    )
    .filter((F.col("doc_b") >= 2 * N) & (F.col("doc_a") == F.col("doc_b") - 2 * N))
    .count(),
)
metrics["simhash_planted_recall"] = round(sh_pairs / n_sub_near, 4)
print("simhash planted recall (50k subset):", metrics["simhash_planted_recall"], flush=True)
assert metrics["simhash_planted_recall"] >= 0.95

# ---- 64-bit simhash (xxhash64): the corpus-scale variant ----
# planted recall on the same subset (8 bands / budget 7 — a one-token
# edit flips ~2x the bits of the 32-bit case), then band-bucket
# selectivity for BOTH widths on the same docs: the r5 verdict's ask is
# that 64-bit buckets stay bounded where 8-bit bands saturate (~N/256).
sh64_pairs = timed(
    "simhash64_neardup_50k",
    lambda: simhash_neardup(
        sub.unionByName(sub_near), n_bits=64, n_bands=8, max_hamming=7,
        max_bucket_size=2000, hash_fn="xxhash64",
    )
    .filter((F.col("doc_b") >= 2 * N) & (F.col("doc_a") == F.col("doc_b") - 2 * N))
    .count(),
)
metrics["simhash64_planted_recall"] = round(sh64_pairs / n_sub_near, 4)
print("simhash64 planted recall (50k subset):", metrics["simhash64_planted_recall"], flush=True)
assert metrics["simhash64_planted_recall"] >= 0.95

from scalablevectorsearch_spark.pipeline.dedup import simhash as _simhash


def _bucket_stats(n_bits, n_bands, hash_fn):
    fp = _simhash(sub, n_bits=n_bits, hash_fn=hash_fn)
    w = n_bits // n_bands
    mask = (1 << w) - 1
    buckets = fp.selectExpr(
        f"explode(transform(sequence(0, {n_bands - 1}), b -> struct(b as band_id,"
        f" (shiftright(simhash, b * {w}) & {mask}L) as bits))) as bk"
    ).groupBy("bk.band_id", "bk.bits").count()
    r = buckets.agg(
        F.mean("count").alias("mean"), F.max("count").alias("max")
    ).collect()[0]
    return round(float(r["mean"]), 2), int(r["max"])


m32, x32 = timed("simhash_bucket_stats_32", lambda: _bucket_stats(32, 4, "md5"))
m64, x64 = timed("simhash_bucket_stats_64", lambda: _bucket_stats(64, 8, "xxhash64"))
metrics["simhash_bucket_mean_32"], metrics["simhash_bucket_max_32"] = m32, x32
metrics["simhash_bucket_mean_64"], metrics["simhash_bucket_max_64"] = m64, x64
print(f"simhash bucket mean/max: 32-bit {m32}/{x32}  64-bit {m64}/{x64}", flush=True)
assert m64 <= m32, "64-bit bands must be at least as selective as 32-bit"

# ---- exact n-gram Jaccard (winnowing-blocked) on the bounded subset ----
# Char-level fingerprinting costs ~len(text) md5s per doc, so like the
# SimHash join this runs on the 50k subset; the corpus-scale near-dup
# path remains banded MinHash. Same planted near-copies as simhash.
from scalablevectorsearch_spark.pipeline.dedup import ngram_jaccard_neardup

nj_pairs = timed(
    "ngram_jaccard_50k",
    lambda: ngram_jaccard_neardup(
        sub.unionByName(sub_near), threshold=0.5, max_bucket_size=2000,
        hash_fn="xxhash64",  # production fast path; md5 is the gate contract
    )
    .filter((F.col("doc_b") >= 2 * N) & (F.col("doc_a") == F.col("doc_b") - 2 * N))
    .count(),
)
metrics["ngram_jaccard_planted_recall"] = round(nj_pairs / n_sub_near, 4)
print(
    "ngram_jaccard planted recall (50k subset):",
    metrics["ngram_jaccard_planted_recall"],
    flush=True,
)
assert metrics["ngram_jaccard_planted_recall"] >= 0.99

# ---- stratified domain-mixing sample at full scale ----
from scalablevectorsearch_spark.pipeline.curate import stratified_sample

sourced = docs.withColumn("source", F.concat(F.lit("s"), F.pmod("doc_id", F.lit(10))))
MIX = {"s0": 1.0, "s1": 0.5, "s2": 0.25, "s3": 0.0}
mix_counts = timed(
    "stratified_sample",
    lambda: {
        r["source"]: (r["n"], r["k"])
        for r in stratified_sample(sourced, MIX, default_fraction=0.8)
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.sum(F.col("kept").cast("long")).alias("k"))
        .collect()
    },
)
assert mix_counts["s0"][1] == mix_counts["s0"][0]
assert mix_counts["s3"][1] == 0
obs_s1 = mix_counts["s1"][1] / mix_counts["s1"][0]
obs_def = sum(k for s, (n, k) in mix_counts.items() if s not in MIX) / sum(
    n for s, (n, k) in mix_counts.items() if s not in MIX
)
metrics["mix_s1_frac"] = round(obs_s1, 4)
metrics["mix_default_frac"] = round(obs_def, 4)
print(f"stratified_sample: s1 {obs_s1:.4f} (want 0.5), default {obs_def:.4f} (want 0.8)", flush=True)
assert abs(obs_s1 - 0.5) < 0.01 and abs(obs_def - 0.8) < 0.01

# ---- curation ops: repetition / split / redaction / filter ----
from scalablevectorsearch_spark.pipeline.curate import (
    dataset_split,
    pii_redact,
    quality_filter,
    repetition_stats,
)
from scalablevectorsearch_spark.pipeline.text import lang_id

# plant degenerate repetition: one token repeated 60x under id + 5N
DEGEN = 1000
degen = spark.range(DEGEN).select(
    (F.col("id") + 5 * N).alias("doc_id"),
    F.array_join(F.array_repeat(F.concat(F.lit("w"), F.pmod(F.col("id"), F.lit(VOCAB)).cast("string")), 60), " ").alias("text"),
)
rep_in = docs.unionByName(degen)
def _mat(df):
    df.persist().count()
    return df

rep = timed("repetition_stats", lambda: _mat(repetition_stats(rep_in, n=2)))
assert rep.count() == N + DEGEN
bad_frac = rep.filter(
    (F.col("top_ngram_frac") < 0) | (F.col("top_ngram_frac") > 1)
    | (F.col("dup_ngram_frac") < 0) | (F.col("dup_ngram_frac") > 1)
).count()
degen_flagged = rep.filter(
    (F.col("doc_id") >= 5 * N) & (F.col("dup_ngram_frac") > 0.999)
).count()
metrics["repetition_degen_recall"] = round(degen_flagged / DEGEN, 4)
print("repetition degen recall:", metrics["repetition_degen_recall"], flush=True)
assert bad_frac == 0 and metrics["repetition_degen_recall"] == 1.0

splits = timed(
    "dataset_split",
    lambda: {
        r["split"]: r["n"]
        for r in dataset_split(docs)
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    },
)
metrics["split_train_frac"] = round(splits.get("train", 0) / N, 4)
print("split fractions:", {k: round(v / N, 4) for k, v in splits.items()}, flush=True)
assert abs(metrics["split_train_frac"] - 0.9) < 0.005

# plant emails in docs with id % 97 == 0, nothing anywhere else
pii_in = docs.withColumn(
    "text",
    F.when(
        F.col("doc_id") % 97 == 0,
        F.concat(F.col("text"), F.lit(" contact u"), F.col("doc_id").cast("string"), F.lit("@ex.org")),
    ).otherwise(F.col("text")),
)
n_planted_pii = docs.filter(F.col("doc_id") % 97 == 0).count()
red = timed("pii_redact", lambda: _mat(pii_redact(pii_in)))
hits = red.filter(F.col("n_email") == 1).count()
stray = red.filter(
    (F.col("n_email") > 1) | (F.col("n_ip") > 0) | (F.col("n_ssn") > 0) | (F.col("n_phone") > 0)
).count()
leftover = red.filter(F.col("clean_text").contains("@")).count()
metrics["pii_planted_recall"] = round(hits / n_planted_pii, 4)
print("pii planted recall:", metrics["pii_planted_recall"], flush=True)
assert metrics["pii_planted_recall"] == 1.0 and stray == 0 and leftover == 0
red.unpersist()

qf = timed(
    "quality_filter",
    lambda: _mat(quality_filter(text_stats(rep_in), rep, lang_id(rep_in))),
)
keep_frac = qf.filter("keep").count() / (N + DEGEN)
degen_dropped = qf.filter(
    (F.col("doc_id") >= 5 * N) & (F.col("reason") == "top_ngram_repetition")
).count()
metrics["qf_keep_frac"] = round(keep_frac, 4)
metrics["qf_degen_drop_recall"] = round(degen_dropped / DEGEN, 4)
print(f"quality_filter keep frac {metrics['qf_keep_frac']}, degen drop recall {metrics['qf_degen_drop_recall']}", flush=True)
assert metrics["qf_degen_drop_recall"] == 1.0
qf.unpersist()
rep.unpersist()

line = {
    "ts": __import__("datetime")
    .datetime.now(__import__("datetime").timezone.utc)
    .astimezone()
    .isoformat(timespec="seconds"),
    "stress_pipeline": N,
    "timings": timings,
    "metrics": metrics,
    "meta": {"vocab": VOCAB, "pack_budget": BUDGET, "simhash_subset": SIMHASH_SUBSET},
}
with open(ROOT / "BENCH_HISTORY.jsonl", "a") as f:
    f.write(json.dumps(line) + "\n")
print(json.dumps(line), flush=True)
print("STRESS PIPELINE DONE", flush=True)
