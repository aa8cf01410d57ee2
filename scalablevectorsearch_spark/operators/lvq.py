"""LVQ — Locally-adaptive Vector Quantization (per-vector scalar
quantization with an optional residual level).

Parity: the reference's LVQ dataset family — storage kinds LVQ4x0 /
LVQ8x0 / LVQ4x4 / LVQ4x8 (/root/reference/bindings/cpp/include/svs/
runtime/api_defs.h:98-109), the `svs.LVQLoader(primary=, residual=)`
user surface (/root/reference/examples/python/
vamana_with_compression_lvq.py:63-71), and the persisted
primary_bits/residual_bits/strategy config (/root/reference/include/
svs/index/ivf/data_traits.h:36-56). The compression scheme itself is
published (Aguerrebere et al., "Similarity search in the blink of an
eye with compressed indices", VLDB 2023): remove the dataset mean,
then quantize each vector with its OWN min/max range —
per-vector adaptivity is what lets 4-8 bits/component work where a
global scalar quantizer (operators/sq.py) needs the full dataset
range. The reference's "sequential"/"turbo" strategies are SIMD
register layouts with no DataFrame analog — dropped, as documented
in COVERAGE.md.

Scheme (all arithmetic float64, round-half-up, identical in Spark and
the DuckDB oracles):

  mu        = dataset mean (canonical: rounded 1e-6, the kmeans
              determinism protocol)
  x'        = x - mu                        (centered)
  lo, hi    = min(x'), max(x')              (PER VECTOR)
  step      = (hi - lo) / (2^B1 - 1)
  code c    = clamp(floor((x' - lo)/step + 0.5), 0, 2^B1 - 1)
  recon1    = (mu + lo) + step * c          (primary reconstruction)

  residual level (LVQ B1 x B2): the primary rounding error lies in
  [-step/2, step/2]; quantize it uniformly with B2 bits:
  r         = x' - (lo + step * c)
  step2     = step / (2^B2 - 1)
  rcode c2  = clamp(floor((r + step/2)/step2 + 0.5), 0, 2^B2 - 1)
  recon2    = recon1 + (step2 * c2 - step/2)

Spark shape (scale-first):
 - TRAIN is one scan (posexplode + avg) for the mean.
 - COMPRESS is pure Catalyst: zip_with/transform expressions, JVM
   codegen, no Python. Storage is ARRAY<TINYINT> codes — 1 byte per
   component at B=8, HALF a byte at B=4 (two codes nibble-packed per
   byte) — plus two per-row doubles (lo, step). That is the 4-8x scan
   bandwidth reduction that motivates LVQ at 100 TB.
 - SEARCH is :class:`LVQCodec` run by the operators.codec drivers:
   the packed codes decode inside the gated flat/Vamana kernels
   (bit-identical to the Catalyst decompress chain); the query stays
   full precision (the reference's asymmetric LVQ distances). Two-level search is
   candidate-generation on the primary + exact re-rank on the
   two-level reconstruction (the k_reorder pattern of
   operators/ivf.py; the reference reranks LVQ results the same way —
   vamana/extensions.h:456-457 notes cancel "skips reranking" for
   lvq).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.codec import (
    Codec,
    codec_knn,
    codec_vamana_build,
    codec_vamana_search,
    dataset_mean,
)


@dataclass(frozen=True)
class LVQParams:
    """Persisted LVQ configuration (data_traits.h DataTypeConfig:
    primary_bits / residual_bits + the centering vector)."""

    mean: tuple  # canonical (1e-6-rounded) dataset mean, length dims
    dims: int
    primary_bits: int
    residual_bits: int = 0

    def __post_init__(self):
        if self.primary_bits not in (4, 8):
            raise ValueError(f"primary_bits must be 4 or 8, got {self.primary_bits}")
        if self.residual_bits not in (0, 4, 8):
            raise ValueError(f"residual_bits must be 0, 4 or 8, got {self.residual_bits}")
        if len(self.mean) != self.dims:
            raise ValueError(f"mean has {len(self.mean)} dims, expected {self.dims}")

    @property
    def levels1(self) -> int:
        return (1 << self.primary_bits) - 1

    @property
    def levels2(self) -> int:
        return (1 << self.residual_bits) - 1


def lvq_train(
    df: DataFrame,
    vec_col: str = "vector",
    primary_bits: int = 8,
    residual_bits: int = 0,
    round_decimals: int = 6,
) -> LVQParams:
    """Dataset mean -> LVQParams (codec.dataset_mean: one scan, the
    canonical 1e-6-rounded mean, so per-vector lo/step/codes derive
    exactly on Spark and the DuckDB oracle)."""
    mean = dataset_mean(df, vec_col, round_decimals)
    return LVQParams(
        mean=mean, dims=len(mean), primary_bits=primary_bits, residual_bits=residual_bits,
    )


def _dlit(v: float) -> str:
    """Exact SQL double literal: repr() is the shortest round-trip
    decimal and both Python and the SQL parser are correctly-rounded,
    so the parsed double is bit-identical to ``v``. Raises (not assert
    — asserts vanish under ``python -O``) on non-finite values, which
    have no SQL double literal and would otherwise parse as a column
    reference or wrong value silently."""
    v = float(v)
    s = repr(v)
    if s in ("inf", "-inf", "nan") or float(s) != v:
        raise ValueError(f"value has no exact SQL double literal: {v!r}")
    return f"{s}D"


def _mu_sql(params: LVQParams) -> str:
    return "array(" + ", ".join(_dlit(m) for m in params.mean) + ")"


# r12 (guide §4, the driver's py4j boundary): the Catalyst builders
# below assemble their expressions as single SQL strings parsed
# JVM-side in one round trip, instead of Column algebra whose every
# F.* / lambda call is its own round trip. Node-for-node the same
# expressions (ZipWith/Transform/CaseWhen/Floor/Cast with identical
# double literals via _dlit), so compressed storage, reconstructions
# and every gated result are bit-identical; measured lvq_compress
# construction 174ms -> ~25ms at 64 dims.


def _clamp_sql(x: str, levels: int) -> str:
    return f"greatest(0.0D, least({_dlit(levels)}, {x}))"


def _pack_sql(codes: str, bits: int) -> str:
    """Integral double codes -> ARRAY<TINYINT> storage. B=8: one code
    per byte, centered (c - 128). B=4: two codes per byte
    (hi nibble = even index, lo nibble = odd; odd dims zero-pad),
    centered. Centering keeps the full 0..255 byte range inside the
    signed TINYINT domain."""
    if bits == 8:
        return f"transform({codes}, c -> cast(c - 128.0D as tinyint))"
    return (
        f"transform(sequence(0, cast(ceil(size({codes}) / 2) as int) - 1), "
        f"i -> cast(element_at({codes}, i * 2 + 1) * 16.0D"
        f" + coalesce(try_element_at({codes}, i * 2 + 2), 0.0D)"
        f" - 128.0D as tinyint))"
    )


def _unpack_sql(stored: str, bits: int, dims: int) -> str:
    """ARRAY<TINYINT> storage -> integral double codes (0..2^B-1)."""
    if bits == 8:
        return f"transform({stored}, b -> cast(b as double) + 128.0D)"
    nibbles = (
        f"flatten(transform({stored}, "
        f"b -> array(cast(floor((cast(b as double) + 128.0D) / 16.0D) as double), "
        f"pmod(cast(b as double) + 128.0D, 16.0D))))"
    )
    return f"slice({nibbles}, 1, {dims})"


def lvq_compress(
    df: DataFrame,
    params: LVQParams,
    vec_col: str = "vector",
    prefix: str = "lvq_",
) -> DataFrame:
    """Add LVQ storage columns: ``{prefix}codes`` ARRAY<TINYINT>
    (nibble-packed at B1=4), ``{prefix}lo`` / ``{prefix}step`` DOUBLE,
    and ``{prefix}rcodes`` when the params carry a residual level.
    Pure Catalyst — no Python row path."""
    mu = _mu_sql(params)
    lo, stepc = f"`{prefix}lo`", f"`{prefix}step`"
    df = df.withColumn(
        "__xp", F.expr(f"zip_with(`{vec_col}`, {mu}, (x, m) -> cast(x as double) - m)")
    )
    df = df.withColumn(f"{prefix}lo", F.expr("array_min(__xp)")).withColumn(
        f"{prefix}step",
        F.expr(f"(array_max(__xp) - array_min(__xp)) / {_dlit(params.levels1)}"),
    )
    codes = (
        f"transform(__xp, x -> CASE WHEN {stepc} = 0.0D THEN 0.0D ELSE "
        + _clamp_sql(
            f"cast(floor((x - {lo}) / {stepc} + 0.5D) as double)", params.levels1
        )
        + " END)"
    )
    df = df.withColumn("__c1", F.expr(codes))
    if params.residual_bits:
        step2 = f"{stepc} / {_dlit(params.levels2)}"
        r = f"zip_with(__xp, __c1, (x, c) -> x - ({lo} + {stepc} * c))"
        rcodes = (
            f"transform({r}, ri -> CASE WHEN {stepc} = 0.0D THEN 0.0D ELSE "
            + _clamp_sql(
                f"cast(floor((ri + {stepc} / 2.0D) / ({step2}) + 0.5D) as double)",
                params.levels2,
            )
            + " END)"
        )
        df = df.withColumn(
            f"{prefix}rcodes", F.expr(_pack_sql(rcodes, params.residual_bits))
        )
    df = df.withColumn(
        f"{prefix}codes", F.expr(_pack_sql("__c1", params.primary_bits))
    )
    return df.drop("__xp", "__c1")


def lvq_decompress(
    df: DataFrame,
    params: LVQParams,
    prefix: str = "lvq_",
    out_col: str = "vector",
    level: int = 1,
) -> DataFrame:
    """Reconstruct from LVQ storage. ``level=1``: primary only
    (recon1 = (mu + lo) + step*c). ``level=2``: adds the residual
    correction (recon2 = recon1 + (step2*c2 - step/2)). Catalyst
    expressions; identical formulas in the DuckDB oracles."""
    if level not in (1, 2):
        raise ValueError(f"level must be 1 or 2, got {level}")
    if level == 2 and not params.residual_bits:
        raise ValueError("level=2 requires residual_bits > 0")
    mu = _mu_sql(params)
    lo, step = f"`{prefix}lo`", f"`{prefix}step`"
    c1 = _unpack_sql(f"`{prefix}codes`", params.primary_bits, params.dims)
    recon = f"zip_with({c1}, {mu}, (c, m) -> (m + {lo}) + {step} * c)"
    if level == 2:
        step2 = f"{step} / {_dlit(params.levels2)}"
        c2 = _unpack_sql(f"`{prefix}rcodes`", params.residual_bits, params.dims)
        recon = (
            f"zip_with({recon}, {c2}, "
            f"(v, c) -> v + (({step2}) * c - {step} / 2.0D))"
        )
    return df.withColumn(out_col, F.expr(recon))


def lvq_packed_col(params: LVQParams, prefix: str = "lvq_") -> Column:
    """One flat DOUBLE array per row — ``[lo, step, byte_0 .. byte_w]``
    with the code bytes still packed (nibbles at B1=4). A single cheap
    Catalyst ``transform`` (cast only); the real decompression happens
    vectorized inside the scan kernel (:func:`lvq_decoder`), which is
    ~10x the per-element Catalyst expression chain while remaining
    bit-identical (same IEEE ops elementwise)."""
    return F.expr(
        f"concat(array(`{prefix}lo`, `{prefix}step`), "
        f"transform(`{prefix}codes`, b -> cast(b as double)))"
    )


def lvq_decoder(params: LVQParams):
    """Vectorized numpy decoder for :func:`lvq_packed_col` rows — the
    ``decode`` hook of ``flat_knn`` (the reference's compressed-scan
    extension point, extensions/flat/*.h). Elementwise-identical to
    :func:`lvq_decompress` level 1: x = (mu + lo) + step * c."""
    mu = np.asarray(params.mean, dtype=np.float64)

    def decode(M: np.ndarray) -> np.ndarray:
        C = _unpack_np(M[:, 2:], params.primary_bits, params.dims)
        return (mu + M[:, 0][:, None]) + M[:, 1][:, None] * C

    return decode


def lvq_packed2_col(params: LVQParams, prefix: str = "lvq_") -> Column:
    """Two-level analog of :func:`lvq_packed_col`: one flat DOUBLE array
    ``[lo, step, byte_0..byte_w1, rbyte_0..rbyte_w2]`` carrying primary
    AND residual codes still packed — the re-rank scan then reads raw
    storage and :func:`lvq_decoder2` reconstructs vectorized inside the
    kernel instead of Catalyst evaluating the nested unpack/zip_with
    expression chain per joined row (r12: the level-2 chain was both
    the rerank stage's per-row cost and, freshly planned, a visible
    analysis/codegen cost)."""
    return F.expr(
        f"concat(array(`{prefix}lo`, `{prefix}step`), "
        f"transform(`{prefix}codes`, b -> cast(b as double)), "
        f"transform(`{prefix}rcodes`, b -> cast(b as double)))"
    )


def _unpack_np(body: np.ndarray, bits: int, dims: int) -> np.ndarray:
    """Vectorized :func:`_unpack` (elementwise-identical): packed bytes
    (still centered at -128) -> integral double codes 0..2^bits-1."""
    if bits == 8:
        return body + 128.0
    ub = body + 128.0
    hi = np.floor(ub / 16.0)
    lo_nib = ub - 16.0 * hi  # == pmod(ub, 16) exactly for ub >= 0
    C = np.empty((body.shape[0], body.shape[1] * 2), dtype=np.float64)
    C[:, 0::2] = hi
    C[:, 1::2] = lo_nib
    return C[:, :dims]


def lvq_decoder2(params: LVQParams):
    """Vectorized two-level decoder for :func:`lvq_packed2_col` rows —
    elementwise-identical to :func:`lvq_decompress` level 2:
    recon1 = (mu + lo) + step*c1; recon2 = recon1 + (step2*c2 - step/2)
    with step2 = step/levels2, every op in the same order."""
    if not params.residual_bits:
        raise ValueError("lvq_decoder2 requires residual_bits > 0")
    primary = lvq_decoder(params)
    # stored primary bytes per vector (4-bit packs two per byte)
    w1 = params.dims if params.primary_bits == 8 else -(-params.dims // 2)
    levels2 = float(params.levels2)

    def decode(M: np.ndarray) -> np.ndarray:
        step = M[:, 1]
        c2 = _unpack_np(M[:, 2 + w1 :], params.residual_bits, params.dims)
        return primary(M[:, : 2 + w1]) + ((step / levels2)[:, None] * c2 - step[:, None] / 2.0)

    return decode


class LVQCodec(Codec):
    """LVQ as a codec: asymmetric distances (full-precision query vs the
    reconstruction — the reference's LVQ semantics). ``packed=True``
    stores [lo, step, code bytes] rows decoded inside every kernel
    (bit-identical to the Catalyst :func:`lvq_decompress` chain);
    ``packed=False`` stores the primary reconstruction. With a residual
    level, ``finish`` re-ranks the ``k_reorder`` candidates on the
    two-level reconstruction of the ``lvq_*`` storage table
    (data_traits.h primary/residual; the k_reorder pattern of
    common.h:156)."""

    kind = "lvq"

    def __init__(self, params: LVQParams, packed: bool = True, distance: str = "l2"):
        super().__init__(distance)
        self.params, self.packed = params, packed

    @property
    def reranks(self) -> bool:
        return self.params.residual_bits > 0

    @property
    def decode(self):
        return lvq_decoder(self.params) if self.packed else None

    def unpacked(self) -> "LVQCodec":
        return LVQCodec(self.params, False, self.distance)

    def store(self, df, id_col, vec_col, compressed):
        comp = df if compressed else lvq_compress(df, self.params, vec_col)
        if self.packed:
            return comp.select(F.col(id_col), lvq_packed_col(self.params).alias(vec_col))
        return lvq_decompress(comp, self.params, out_col="__rv", level=1).select(
            F.col(id_col), F.col("__rv").alias(vec_col)
        )

    def rerank_storage(self, vec_col):
        return lvq_packed2_col(self.params), lvq_decoder2(self.params)

    def manifest_params(self):
        # data_traits.h primary_bits/residual_bits + the centering mean
        p = self.params
        return {
            "lvq_primary_bits": p.primary_bits,
            "lvq_residual_bits": p.residual_bits,
            "lvq_mean": [float(x) for x in p.mean],
            "lvq_packed": self.packed,
        }

    @classmethod
    def from_manifest(cls, p):
        if p.get("lvq_primary_bits") is None:
            return None
        params = LVQParams(
            mean=tuple(p["lvq_mean"]), dims=len(p["lvq_mean"]),
            primary_bits=p["lvq_primary_bits"],
            residual_bits=p.get("lvq_residual_bits", 0),
        )
        return cls(params, bool(p.get("lvq_packed")), p["distance"])


# The public LVQ entry points: LVQCodec run by the operators.codec
# drivers, whose docstrings carry the k_reorder / base_compressed /
# packed prose. The reference builds Vamana directly over an LVQ
# dataset (svs.Vamana.build(parameters, LVQLoader(...), ...) in
# vamana_with_compression_lvq.py:80-87); per-vector scales make
# code-domain ranking differ from corrected ranking, so the graph sees
# exactly the reconstruction the search will see.


def lvq_knn(
    base: DataFrame, queries: DataFrame, params: LVQParams, k: int,
    distance: str = "l2", id_col: str = "id", vec_col: str = "vector",
    qid_col: str = "qid", qvec_col: str | None = None,
    round_to: int | None = 4, k_reorder: int | None = None,
    base_compressed: bool = False,
) -> DataFrame:
    """k-NN over LVQ storage; with a residual level and ``k_reorder``,
    the primary candidates re-rank on the two-level reconstruction. See
    :func:`~scalablevectorsearch_spark.operators.codec.codec_knn`."""
    comp = base if base_compressed else lvq_compress(base, params, vec_col)
    return codec_knn(
        LVQCodec(params, distance=distance), comp, queries, k, id_col, vec_col,
        qid_col, qvec_col, round_to, k_reorder, True, rerank_source=comp,
    )


def lvq_vamana_build(
    base: DataFrame, params: LVQParams, vamana_params=None, n_shards: int = 8,
    distance: str = "l2", id_col: str = "id", vec_col: str = "vector",
    base_compressed: bool = False, packed: bool = True, **build_kw,
):
    """Vamana over LVQ storage. See
    :func:`~scalablevectorsearch_spark.operators.codec.codec_vamana_build`."""
    return codec_vamana_build(
        LVQCodec(params, packed, distance), base, vamana_params, n_shards, id_col,
        vec_col, base_compressed, **build_kw,
    )


def lvq_vamana_search(
    index, queries: DataFrame, k: int, qid_col: str = "qid",
    qvec_col: str = "vector", round_to: int | None = 4,
    k_reorder: int | None = None, compressed: DataFrame | None = None,
    **search_kw,
) -> DataFrame:
    """Graph search over an LVQ Vamana index; with ``k_reorder`` +
    ``compressed`` (the lvq_* storage table) the top
    max(k, k_reorder) candidates re-rank on the two-level
    reconstruction. See
    :func:`~scalablevectorsearch_spark.operators.codec.codec_vamana_search`."""
    if not isinstance(index.codec, LVQCodec):
        raise ValueError("index was not built with lvq_vamana_build")
    if k_reorder is not None and not index.codec.reranks:
        raise ValueError("k_reorder requires residual_bits > 0")
    return codec_vamana_search(
        index, queries, k, qid_col, qvec_col, round_to,
        None if k_reorder is None else max(k, k_reorder), compressed, **search_kw,
    )
