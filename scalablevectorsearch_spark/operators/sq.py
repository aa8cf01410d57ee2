"""Scalar quantization (SQ) — global min/max int8 compression with
distance-corrected search.

Parity: /root/reference/include/svs/quantization/scalar/scalar.h —
:38-45 (compress = clamp(round((v-bias)/scale)), decompress =
scale*q + bias), :454-464 (scale = (gmax-gmin)/(MAX-MIN), bias =
gmin - MIN*scale over the dataset extrema), :59-104 (EuclideanCompressed:
compress the query, distance = scale^2 * L2int), :106-152
(InnerProductCompressed: keep the query fp32, distance =
scale*ip + bias*sum(q)), :155-195 (Cosine: decompress the datum).

Spark shape:
 - TRAIN is one built-in aggregate: min(array_min(v)) / max(array_max(v))
   — full map-side combine, one scan (the quantization min/max aggregate
   of SURVEY §2.4).
 - COMPRESS is a pure Catalyst `transform` expression over the vector
   column — JVM codegen, no Python. The compressed table is the one that
   persists (4x bandwidth saving at 100 TB vs float32, matching the
   reference's memory-bandwidth motivation).
 - SEARCH reuses the flat/IVF kernels on the compressed arrays: for L2
   the integer-domain distance is computed exactly in float64 and the
   scale^2 correction is applied after ranking (a positive constant
   factor — ranking on the integer distance IS ranking on the corrected
   distance); for IP the per-query offset bias*sum(q) never changes
   ranking either (constant per query, scale > 0).

Determinism: all rounding is floor(x + 0.5) (round-half-up — identical
in Spark, numpy, and DuckDB; the reference's std::round differs only on
exact .5 negatives, a measure-zero set for real data); scale/bias are
derived with the same IEEE double operation order in both engines.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.codec import (
    Codec,
    codec_knn,
    codec_vamana_build,
    codec_vamana_search,
)

INT8_MIN, INT8_MAX = -128.0, 127.0


@dataclass
class SQParams:
    """Global quantization parameters (scalar.h:454-464)."""

    gmin: float
    gmax: float

    @property
    def scale(self) -> float:
        return (self.gmax - self.gmin) / 255.0

    @property
    def bias(self) -> float:
        # gmin - INT8_MIN * scale, i.e. compress(gmin) == -128
        return self.gmin + 128.0 * self.scale


def sq_train(df: DataFrame, vec_col: str = "vector") -> SQParams:
    """Dataset extrema -> scale/bias. One scan, built-in min/max agg."""
    row = df.agg(
        F.min(F.array_min(vec_col)).cast("double").alias("gmin"),
        F.max(F.array_max(vec_col)).cast("double").alias("gmax"),
    ).collect()[0]
    if row["gmin"] is None:
        raise ValueError("empty dataset")
    return SQParams(gmin=float(row["gmin"]), gmax=float(row["gmax"]))


def compress_element(x: Column, params: SQParams) -> Column:
    """clamp(floor((x - bias)/scale + 0.5), -128, 127) as DOUBLE
    (integral values; cast to TINYINT at the storage boundary)."""
    t = (x.cast("double") - F.lit(params.bias)) / F.lit(params.scale)
    return F.greatest(F.lit(INT8_MIN), F.least(F.lit(INT8_MAX), F.floor(t + F.lit(0.5)).cast("double")))


def sq_compress(
    df: DataFrame, params: SQParams, vec_col: str = "vector", out_col: str = "qvector",
    storage: bool = False,
) -> DataFrame:
    """Add a compressed vector column. ``storage=True`` casts to
    ARRAY<TINYINT> (the persisted form); the default keeps DOUBLE for
    exact in-plan arithmetic."""
    comp = F.transform(F.col(vec_col), lambda x: compress_element(x, params))
    if storage:
        comp = F.transform(comp, lambda x: x.cast("tinyint"))
    return df.withColumn(out_col, comp)


def sq_decompress(
    df: DataFrame, params: SQParams, qvec_col: str = "qvector", out_col: str = "vector",
) -> DataFrame:
    """scale*q + bias per element (scalar.h:44-45)."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(qvec_col),
            lambda x: F.lit(params.scale) * x.cast("double") + F.lit(params.bias),
        ),
    )


class SQCodec(Codec):
    """SQ as a codec (extensions/{flat,vamana}/scalar.h): storage is
    compressed-domain doubles — decompressed for cosine
    (CosineCompressed, scalar.h:155-195) — and ``finish`` applies the
    distance correction after ranking, which it never changes (l2's is a
    positive constant factor scale^2, ip's a per-query constant offset
    bias*sum(q))."""

    kind = "sq"

    def __init__(self, params: SQParams, distance: str = "l2"):
        if distance not in ("l2", "ip", "cosine"):
            raise ValueError(f"unknown distance {distance!r}")
        super().__init__(distance)
        self.params = params

    def store(self, df, id_col, vec_col, compressed):
        if compressed:
            df = df.withColumn("__sqv", F.transform(F.col(vec_col), lambda x: x.cast("double")))
        else:
            df = sq_compress(df, self.params, vec_col, "__sqv")
        if self.distance == "cosine":
            df = sq_decompress(df, self.params, "__sqv", "__sqv")
        return df.select(F.col(id_col), F.col("__sqv").alias(vec_col))

    def query(self, q):
        # l2 compresses the query too (EuclideanCompressed.fix_argument);
        # ip and cosine keep it full precision
        return sq_compress(q, self.params, "vector", "vector") if self.distance == "l2" else q

    def finish(self, cands, queries, k, round_to, *_):
        # SQ never re-ranks, so the re-rank arguments are unused
        s = self.params.scale
        if self.distance == "l2":
            # integer-domain distance -> corrected; same left-assoc order
            # as the oracle: (d * scale) * scale
            return cands.withColumn("distance", F.col("distance") * F.lit(s) * F.lit(s))
        if self.distance == "ip":
            qsum = F.aggregate("vector", F.lit(0.0), lambda acc, x: acc + x.cast("double"))
            qsum = F.broadcast(queries.select("qid", qsum.alias("__qsum")))
            corrected = F.lit(s) * F.col("distance") + F.lit(self.params.bias) * F.col("__qsum")
            return cands.join(qsum, "qid").withColumn("distance", corrected).drop("__qsum")
        return cands

    def manifest_params(self):
        return {"sq_gmin": self.params.gmin, "sq_gmax": self.params.gmax}

    @classmethod
    def from_manifest(cls, p):
        if p.get("sq_gmin") is None:
            return None
        return cls(SQParams(gmin=p["sq_gmin"], gmax=p["sq_gmax"]), p["distance"])


# The public SQ entry points: SQCodec run by the operators.codec drivers,
# whose docstrings carry the base_compressed / routing prose.


def sq_knn(
    base: DataFrame, queries: DataFrame, params: SQParams, k: int,
    distance: str = "l2", id_col: str = "id", vec_col: str = "vector",
    qid_col: str = "qid", qvec_col: str | None = None,
    round_to: int | None = 4, base_compressed: bool = False,
) -> DataFrame:
    """k-NN over scalar-quantized storage with CORRECTED distances
    (scalar.h compute()): scale^2 * L2int for l2, scale*ip + bias*sum(q)
    for ip, full-precision cosine on decompressed data for cosine. See
    :func:`~scalablevectorsearch_spark.operators.codec.codec_knn`."""
    return codec_knn(
        SQCodec(params, distance), base, queries, k, id_col, vec_col, qid_col,
        qvec_col, round_to, base_compressed=base_compressed,
    )


def sq_vamana_build(
    base: DataFrame, params: SQParams, vamana_params=None, n_shards: int = 8,
    distance: str = "l2", id_col: str = "id", vec_col: str = "vector",
    base_compressed: bool = False, **build_kw,
):
    """Vamana over SQ storage: l2/ip graphs are built IN the compressed
    domain (its ranking equals the corrected one), cosine over the
    decompressed datum. See
    :func:`~scalablevectorsearch_spark.operators.codec.codec_vamana_build`."""
    return codec_vamana_build(
        SQCodec(params, distance), base, vamana_params, n_shards, id_col, vec_col,
        base_compressed, **build_kw,
    )


def sq_vamana_search(
    index, queries: DataFrame, k: int, qid_col: str = "qid",
    qvec_col: str = "vector", round_to: int | None = 4, **search_kw,
) -> DataFrame:
    """Graph search over an SQ Vamana index with corrected distances
    (:func:`sq_knn`'s contract). See
    :func:`~scalablevectorsearch_spark.operators.codec.codec_vamana_search`."""
    if not isinstance(index.codec, SQCodec):
        raise ValueError("index was not built with sq_vamana_build")
    return codec_vamana_search(index, queries, k, qid_col, qvec_col, round_to, **search_kw)
