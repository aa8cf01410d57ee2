"""Round-13 optimization regression tests: SQL-identifier quoting in
the string-built pipeline operators, the nested-transform minhash
signature, data-derived top-k merge partitioning, and the rerank
kernel's degenerate-input guards."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat and the dog sat too"),
        (1, "der hund ist nicht mit der katze und der maus"),
        (2, "completely unique text with no repeats whatsoever here"),
        (3, "the cat sat on the mat and the dog sat too"),
        (4, "a b a b a b a b a b a b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _renamed(docs):
    return docs.selectExpr("doc_id as `doc-id`", "text as `text body`")


def test_sql_builders_accept_quoted_identifiers(docs):
    """Hyphenated/spaced column names must work through every
    SQL-string constructor (r13, ADVICE: interpolated identifiers were
    unquoted, so a name needing backticks broke the parsed SQL)."""
    from scalablevectorsearch_spark.pipeline.curate import (
        dataset_split,
        repetition_stats,
    )
    from scalablevectorsearch_spark.pipeline.dedup import (
        dedup_exact,
        dedup_minhash,
        shingle_hashes,
    )
    from scalablevectorsearch_spark.pipeline.text import (
        doc_fingerprints,
        lang_id,
        text_stats,
    )

    odd = _renamed(docs)
    kw = dict(text_col="text body", id_col="doc-id")
    pairs = [
        (text_stats(docs), text_stats(odd, **kw)),
        (lang_id(docs), lang_id(odd, **kw)),
        (dedup_exact(docs), dedup_exact(odd, **kw)),
        (shingle_hashes(docs, 3), shingle_hashes(odd, 3, "text body", "doc-id")),
        (doc_fingerprints(docs), doc_fingerprints(odd, **kw)),
        (repetition_stats(docs, n=2), repetition_stats(odd, n=2, **kw)),
        (
            dedup_minhash(docs, 3, 16, 4, 0.5),
            dedup_minhash(odd, 3, 16, 4, 0.5, "text body", "doc-id"),
        ),
    ]
    for plain, quoted in pairs:
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, quoted.collect()))
        assert a == b

    ds = dataset_split(odd, names=["tr'ain", "te st"], weights=[0.5, 0.5],
                       id_col="doc-id")
    got = {r["split"] for r in ds.collect()}
    assert got <= {"tr'ain", "te st"}


def test_quality_filter_quoted_lang_literal(docs):
    """A language code containing a quote must survive _qlit escaping
    (previously it produced a SQL parse error)."""
    from scalablevectorsearch_spark.pipeline.curate import (
        quality_filter,
        repetition_stats,
    )
    from scalablevectorsearch_spark.pipeline.text import lang_id, text_stats

    out = quality_filter(
        text_stats(docs), repetition_stats(docs, n=2), lang_id(docs),
        langs=["en", "it's"],
    ).collect()
    assert len(out) == docs.count()


def test_minhash_signature_matches_unrolled(spark, docs):
    """The r13 nested-transform signature must be bit-identical to the
    unrolled n_perm-copy formulation it replaced."""
    from scalablevectorsearch_spark.pipeline.dedup import (
        MERSENNE,
        minhash_signature,
        perm_coeffs,
        shingle_hashes,
    )

    sh = shingle_hashes(docs, 3)
    coeffs = perm_coeffs(16)
    mins = ", ".join(
        f"array_min(transform(shingles, h -> ({a} * (h % {MERSENNE}) + {b}) % {MERSENNE}))"
        for a, b in coeffs
    )
    old = sh.selectExpr("doc_id", f"array({mins}) as sig").collect()
    new = minhash_signature(sh, 16).select("doc_id", "sig").collect()
    assert sorted((r["doc_id"], tuple(r["sig"])) for r in old) == sorted(
        (r["doc_id"], tuple(r["sig"])) for r in new
    )


def test_merge_partitions_sizing(spark):
    from scalablevectorsearch_spark.operators.topk import merge_partitions

    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert merge_partitions(1000, 10, spark) == 1
    assert merge_partitions(0, 10, spark) == 1
    # huge group counts degrade to the session default, never beyond
    assert merge_partitions(10**9, 10, spark) == sp


def test_topk_num_partitions_identical_results(spark):
    from scalablevectorsearch_spark.operators.topk import topk_per_group

    rng = np.random.RandomState(7)
    rows = [
        (int(i % 17), float(rng.randint(0, 50)), int(i)) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g long, v double, i long")
    base = sorted(
        map(tuple, topk_per_group(df, "g", "v", 5, tie_col="i").collect())
    )
    for n in (1, 3):
        got = sorted(
            map(
                tuple,
                topk_per_group(
                    df, "g", "v", 5, tie_col="i", num_partitions=n
                ).collect(),
            )
        )
        assert got == base


def test_rerank_empty_query_batch(spark):
    """An empty query set returns an empty frame (r13, ADVICE: np.stack
    raised ValueError where the old Catalyst join path was empty).
    Exercised on _rerank_reconstruction directly — inside lvq_knn the
    upstream flat_knn raises its documented 'empty query batch' first."""
    from scalablevectorsearch_spark.operators.lvq import _rerank_reconstruction

    cands = spark.createDataFrame([], "qid long, neighbor_id long")
    recon = spark.createDataFrame(
        [(0, [1.0, 2.0])], "neighbor_id long, __bv array<double>"
    )
    empty_q = spark.createDataFrame([], "qid long, vector array<double>")
    out = _rerank_reconstruction(cands, recon, empty_q, 3, "l2", 4)
    assert out.count() == 0
    assert set(out.columns) >= {"qid", "neighbor_id", "distance", "rank"}
