"""Text-analysis operators for large-scale training-data pipelines —
quality stats, language ID, BPE-ish token counting, winnowing
fingerprints.

These extend the reference's surface (BASELINE.json north star): a
100 TB document corpus needs per-document quality/lang/token metadata
before dedup/filtering. Everything here is pure Catalyst expressions
(JVM codegen, zero Python in the row path) over the ``documents``
table; every computed value follows the cross-engine protocol (same
operation order, floor-half-up rounding at the gate boundary) so a
DuckDB oracle reproduces it bit-for-bit (oracles.text_stats_sql etc.).

Scale notes: all operators are embarrassingly parallel scans (no
shuffle, no UDF); the fingerprint operator emits O(len/w) rows per doc
— a bounded expansion with map-side distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Shared heuristic stopword lists (public, common function words); the
# oracle SQL is generated from these same literals.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "an", "of", "and", "to", "in", "is", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"],
    "fr": ["le", "les", "et", "est", "une", "dans", "que", "pour", "sur", "pas"],
    "es": ["el", "los", "y", "es", "una", "en", "por", "con", "para", "como"],
}

#: BPE-style pre-tokenizer: letter runs, digit runs, single symbols
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _toks(text_col: str) -> F.Column:
    return F.split(F.trim(F.col(text_col)), r"\s+")


def _qident(name: str) -> str:
    """Backtick-quote a column identifier interpolated into a SQL
    string (r13, ADVICE): a plain name resolves identically quoted or
    not, and a name that NEEDS quoting (hyphen, space, quote) now works
    instead of breaking — or injecting into — the parsed expression."""
    return "`" + name.replace("`", "``") + "`"


def _qlit(v: str) -> str:
    """Escaped single-quoted SQL string literal (r13, ADVICE)."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _toks_sql(text_col: str) -> str:
    # identical StringSplit expression to :func:`_toks` — the SQL
    # literal '\\s+' parses to the same \s+ Java-regex pattern
    return f"split(trim({_qident(text_col)}), '\\\\s+')"


def hash_sql(s: str, hash_fn: str) -> str:
    """SQL for the 64-bit hash of string expression ``s``: ``"md5"`` is
    the md5-derived 60-bit hash the DuckDB oracles replay bit-for-bit;
    ``"xxhash64"`` is the ~2x-cheaper Spark-only fast path."""
    if hash_fn == "md5":
        return f"cast(conv(substr(md5({s}), 1, 15), 16, 10) as bigint)"
    if hash_fn == "xxhash64":
        return f"xxhash64({s})"
    raise ValueError(f"hash_fn must be 'md5' or 'xxhash64': {hash_fn!r}")


def gram_concat(n: int) -> str:
    """SQL for the space-joined word ``n``-gram at 1-based token
    position ``i`` over the projected ``__toks`` attribute, valid where
    ``size(__toks) >= n``. ``__toks`` must be a bound attribute from a
    prior projection: a lambda that captures an inline ``split(...)``
    re-evaluates it per gram (measured 11x slower at 1M docs). The gram
    is an unrolled ``concat(element_at(...), chr(32), ...)`` — O(1)
    array lookups per gram — not ``array_join(slice(...))``, which
    materializes a throwaway sub-array per gram (measured ~6x slower;
    COVERAGE.md intra-doc repetition row). ConstantFolding turns
    ``chr(32)`` into ``' '``."""
    parts = ["element_at(__toks, i)"]
    for j in range(1, n):
        parts += ["chr(32)", f"element_at(__toks, i + {j})"]
    return f"concat({', '.join(parts)})"


def gram_expr(n: int) -> str:
    """:func:`gram_concat` made total: a document shorter than ``n``
    tokens keeps the slice path (one truncated gram of its full token
    run — the established hashing convention the oracles replay)."""
    return (
        f"if(size(__toks) >= {n}, {gram_concat(n)}, "
        f"array_join(slice(__toks, i, {n}), chr(32)))"
    )


def _in_set_sql(words: list[str]) -> str:
    return "(" + ", ".join(_qlit(w) for w in words) + ")"


# r12 (guide §4, the JVM↔Python boundary on the DRIVER): the operators
# below construct their expression trees as single SQL strings parsed
# JVM-side in ONE py4j round trip each, instead of Column algebra whose
# every F.* call is its own round trip (~0.3-0.6ms). Same Catalyst
# expressions node-for-node (In, ArrayFilter, ArrayAggregate, CaseWhen,
# ...), so results are bit-identical; measured ~5-10x cheaper query
# construction (text_stats 118ms -> ~15ms per call at sf0.1).


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality statistics:
    (doc_id, n_chars, n_tokens, n_uniq_tokens, n_punct, n_bpe_tokens,
    stopword_ratio, avg_token_len, quality_score)."""
    toks = _toks_sql(text_col)
    stop = _in_set_sql(STOPWORDS["en"])
    bpe = BPE_PATTERN.replace("\\", "\\\\")
    id_col, text_col = _qident(id_col), _qident(text_col)
    out = df.selectExpr(
        f"{id_col} as doc_id",
        f"length({text_col}) as n_chars",
        f"size({toks}) as n_tokens",
        f"size(array_distinct({toks})) as n_uniq_tokens",
        f"length(regexp_replace({text_col}, '[a-z0-9 ]', '')) as n_punct",
        f"size(regexp_extract_all(lower({text_col}), '{bpe}', 0)) as n_bpe_tokens",
        f"size(filter({toks}, t -> t in {stop})) as __n_stop",
        f"aggregate({toks}, cast(0 as bigint), (acc, t) -> acc + length(t)) as __tok_len_sum",
    )
    # float op ORDER is the cross-engine contract — kept verbatim:
    # least(1.0, n/64.0) * (1.0 - least(0.5, punct/greatest(chars,1)))
    # * (0.25 + 0.75 * uniq/n)
    return out.selectExpr(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_uniq_tokens",
        "n_punct",
        "n_bpe_tokens",
        "(cast(__n_stop as double) / cast(n_tokens as double)) as stopword_ratio",
        "(cast(__tok_len_sum as double) / cast(n_tokens as double)) as avg_token_len",
        "((least(1.0D, cast(n_tokens as double) / 64.0D)"
        " * (1.0D - least(0.5D, cast(n_punct as double) / cast(greatest(n_chars, 1) as double))))"
        " * (0.25D + 0.75D * (cast(n_uniq_tokens as double) / cast(n_tokens as double))))"
        " as quality_score",
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: CJK characters -> zh, else argmax of
    per-language stopword hits with the fixed tie-break chain
    en > de > fr > es (mirrored verbatim by the oracle). Returns
    (doc_id, pred_lang)."""
    toks = _toks_sql(text_col)
    id_col, text_col = _qident(id_col), _qident(text_col)
    counts = {
        lang: f"size(filter({toks}, t -> t in {_in_set_sql(words)})) as __c_{lang}"
        for lang, words in STOPWORDS.items()
    }
    pred = (
        "case when __cjk > 0 then 'zh' "
        "when __c_en >= __c_de and __c_en >= __c_fr and __c_en >= __c_es then 'en' "
        "when __c_de >= __c_fr and __c_de >= __c_es then 'de' "
        "when __c_fr >= __c_es then 'fr' "
        "else 'es' end as pred_lang"
    )
    return df.selectExpr(
        f"{id_col} as doc_id",
        f"length(regexp_replace({text_col}, '[^一-鿿]', '')) as __cjk",
        *counts.values(),
    ).selectExpr("doc_id", pred)


def doc_fingerprints(
    df: DataFrame,
    k: int = 16,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """Winnowing document fingerprints: rolling k-char-gram hashes;
    keep the min hash of every w-window; distinct per doc. Returns
    exploded (doc_id, fp BIGINT) — the standard near-dup / provenance
    fingerprint (Schleimer et al. winnowing, reproduced as pure SQL in
    both engines).

    ``hash_fn``: ``"md5"`` (default) is the cross-engine contract the
    DuckDB oracle replays; ``"xxhash64"`` is the production fast path
    — ~2x cheaper on the char-gram hashing that dominates
    fingerprinting cost (the gram hash runs ~len(text) times per doc),
    identical blocking semantics, but Spark-only."""
    text_col = _qident(text_col)
    gram = hash_sql(f"substring({text_col}, i, {k})", hash_fn)
    hs = (
        f"transform(sequence(1, greatest(length({text_col}) - {k} + 1, 1)), "
        f"i -> {gram})"
    )
    fps = (
        f"array_distinct(transform(sequence(1, greatest(size(__hs) - {w} + 1, 1)), "
        f"i -> array_min(slice(__hs, i, {w}))))"
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.expr(hs).alias("__hs"))
        .select("doc_id", F.explode(F.expr(fps)).alias("fp"))
    )


#: normalization passes applied IN ORDER in both engines (order is part
#: of the cross-engine contract: a URL containing '@' must be removed
#: by the URL pass, not mangled by the email pass)
NORMALIZE_PASSES = [
    (r"https?://[^\s]+", " "),   # URLs
    (r"[^\s]+@[^\s]+\.[^\s]+", " "),  # emails
    (r"\s+", " "),               # collapse whitespace
]


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    out_col: str = "clean_text",
) -> DataFrame:
    """Boilerplate-stripping text normalization — the cleaning pass a
    training-data pipeline runs before dedup/quality scoring: drop
    URLs and emails, collapse whitespace, trim, optionally lowercase.
    Pure Catalyst regexp_replace chain (JVM-side, one scan, no
    shuffle); the same passes in the same order are SQL-expressible,
    so the operator is hash-gated cross-engine."""
    c = F.col(text_col)
    for pat, rep in NORMALIZE_PASSES:
        c = F.regexp_replace(c, pat, rep)
    c = F.trim(c)
    if lowercase:
        c = F.lower(c)
    return df.select(F.col(id_col).alias("doc_id"), c.alias(out_col))


def token_vocabulary(
    df: DataFrame,
    top_n: int = 1000,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Corpus token vocabulary — the counting pass of tokenizer training:
    (token, n_occurrences, n_docs, rank) for the ``top_n`` most frequent
    whitespace tokens (ties rank by token ascending, so the cut is
    deterministic cross-engine).

    Scale shape: explode is map-side; Spark's aggregate does map-side
    partial counts per token before the ONE shuffle on the token key, so
    shuffled rows are O(distinct tokens x partitions), not O(corpus
    tokens); the final top-n is a tiny sort."""
    # one grouped pass over (token, doc) pre-aggregation feeds both
    # occurrence and document counts
    per_doc = (
        df.select(F.col("doc_id"), F.explode(_toks(text_col)).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("__c"))
    )
    counts = per_doc.groupBy("token").agg(
        F.sum("__c").alias("n_occurrences"),
        F.count("*").alias("n_docs"),
    ).filter(F.col("n_occurrences") >= min_count)
    # global top-n via orderBy+limit = TakeOrderedAndProject (map-side
    # partial top-k, never a single-partition sort of the full vocab);
    # the rank window then runs over only top_n rows
    from pyspark.sql import Window

    top = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(top_n)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "token", "n_occurrences", "n_docs", "rank"
    )
