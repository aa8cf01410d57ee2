"""Round-13 optimization regression tests: SQL-identifier quoting in
the string-built pipeline operators and the nested-transform minhash
signature."""

from __future__ import annotations

import pytest


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
