"""LeanVec — linear dimensionality reduction for vector search:
search in a projected low-dimensional space, re-rank the survivors at
full precision.

Parity: the reference's LeanVec dataset family — storage kinds
LeanVec4x4 / LeanVec4x8 / LeanVec8x8 (/root/reference/bindings/cpp/
include/svs/runtime/api_defs.h:98-109), the persisted
leanvec_dims / primary_kind / secondary_kind config
(/root/reference/include/svs/index/ivf/data_traits.h:49-54), and the
training surface that either LEARNS the projection matrices from data
or accepts EXTERNAL ones (/root/reference/bindings/cpp/include/svs/
runtime/training.h:28-71 — ``LeanVecTrainingData::build`` from data,
``leanvec_matrices_`` external pair in
dynamic_vamana_index_leanvec_impl.h:60-76). The method itself is
published (Tepper et al., "LeanVec: Searching vectors faster by
making them fit", 2023): project data with A and queries with a
possibly different matrix B (OOD variant), run the index in the
reduced space, then re-rank candidate ids against the full-dimension
(secondary) representation.

Spark shape (scale-first):
 - TRAIN: PCA via the distributed second-moment matrix — one
   ``mapInArrow`` pass emits per-batch partial sums of the d x d
   centered outer product (d^2 doubles per batch, trivially small),
   the driver sums, rounds canonically (1e-9 half-up), and runs a
   dense symmetric eigendecomposition (d x d — driver-sized at any
   data scale; this is the standard distributed-PCA shape). Sign
   convention: each eigenvector's largest-|.| component is made
   positive, so the model is reproducible across runs.
 - PROJECT: one Arrow-batched numpy matmul (BLAS) — (X - mu) @ P for
   the data side; queries center for l2 but NOT for ip (q . mu is a
   per-query constant for ip, so leaving the query uncentered
   preserves ranking while keeping the projection a pure linear map).
 - SEARCH (:class:`LeanVecCodec` run by the operators.codec drivers):
   primary k-NN in the m-dim space over the gated flat/Vamana engines (distances over m dims — the bandwidth and
   compute win), then the top ``k_reorder`` candidates re-rank with
   exact full-dimension distances (the k_reorder pattern of
   operators/ivf.py). The primary side COMPOSES with operators/lvq
   (LeanVec4x8 = LVQ4 primary on projected data + LVQ8 secondary).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalablevectorsearch_spark.functions.arrowio import batch_matrix, list_rows
from scalablevectorsearch_spark.operators.codec import (
    Codec,
    codec_knn,
    codec_vamana_build,
    codec_vamana_search,
    dataset_mean,
)
from scalablevectorsearch_spark.operators.lvq import LVQCodec


def _normalized(df: DataFrame, vec_col: str) -> DataFrame:
    """Unit-normalize the vector column (Catalyst, float64 — identical
    left-to-right summation in the DuckDB oracles). Cosine ranking over
    x equals IP ranking over x/|x| for any fixed query, which is how the
    cosine LeanVec primary reduces to the ip machinery (the generic
    distance dispatch of the reference: include/svs/core/distance/
    cosine.h:102, selector include/svs/core/distance.h:41).

    Zero-norm guard: an all-zero vector would divide 0/0 into NaN
    components that poison the projected ranking silently; clamping the
    norm to the smallest normal double maps it to the zero vector
    instead (same outcome as flat_knn's cosine, where 0-similarity is
    deterministic), and leaves every nonzero norm bit-identical — so
    the DuckDB oracles (which carry no guard) still match."""
    nrm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    nrm = F.greatest(nrm, F.lit(2.2250738585072014e-308))
    return df.withColumn(
        vec_col, F.transform(F.col(vec_col), lambda x: x.cast("double") / nrm)
    )


def _matrix(col, d: int) -> np.ndarray:
    """Zero-copy (n, d) decode of an Arrow vector column (raises on
    null, ragged or wrong-width rows)."""
    X = batch_matrix(col)
    if X.shape[1] != d:
        raise ValueError(f"vector column must be non-null uniform dim {d}; got {X.shape[1]}")
    return X


@dataclass
class LeanVecModel:
    """Projection pair + centering vector (training.h's
    LeanVecTrainingData / the external-matrices constructor)."""

    data_matrix: np.ndarray   # (dims, leanvec_dims)
    query_matrix: np.ndarray  # (dims, leanvec_dims)
    mean: tuple               # canonical 1e-6-rounded dataset mean
    dims: int = field(init=False)
    leanvec_dims: int = field(init=False)

    def __post_init__(self):
        self.data_matrix = np.ascontiguousarray(self.data_matrix, dtype=np.float64)
        self.query_matrix = np.ascontiguousarray(self.query_matrix, dtype=np.float64)
        self.dims, self.leanvec_dims = self.data_matrix.shape
        if self.query_matrix.shape != self.data_matrix.shape:
            raise ValueError(
                f"query_matrix shape {self.query_matrix.shape} != "
                f"data_matrix shape {self.data_matrix.shape}"
            )
        if not 0 < self.leanvec_dims <= self.dims:
            raise ValueError(
                f"leanvec_dims must be in (0, {self.dims}], got {self.leanvec_dims}"
            )
        if len(self.mean) != self.dims:
            raise ValueError(f"mean has {len(self.mean)} dims, expected {self.dims}")

    @classmethod
    def truncation(cls, dims: int, leanvec_dims: int, mean=None) -> "LeanVecModel":
        """Deterministic coordinate-truncation projection (the
        external-matrices path with P = I[:, :m]) — keeps the first
        ``leanvec_dims`` centered coordinates. Exactly reproducible in
        SQL, so the full LeanVec machinery hash-gates through it."""
        P = np.eye(dims, dtype=np.float64)[:, :leanvec_dims]
        mu = tuple(0.0 for _ in range(dims)) if mean is None else tuple(mean)
        return cls(data_matrix=P, query_matrix=P, mean=mu)


def leanvec_train(
    df: DataFrame,
    leanvec_dims: int,
    vec_col: str = "vector",
) -> LeanVecModel:
    """PCA projection: top-``leanvec_dims`` eigenvectors of the
    centered second-moment matrix. The d x d partial sums travel as one
    flattened array per Arrow batch; the driver-side eigh is O(d^3) on
    a d x d matrix — independent of row count, the distributed-PCA
    standard. Both matrices equal (the in-distribution variant;
    pass external matrices to LeanVecModel for OOD)."""
    mean = dataset_mean(df, vec_col)
    mu = np.asarray(mean, dtype=np.float64)
    d = len(mean)
    if not 0 < leanvec_dims <= d:
        raise ValueError(f"leanvec_dims must be in (0, {d}], got {leanvec_dims}")

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = np.zeros((d, d), dtype=np.float64)
        n = 0
        for b in batches:
            if b.num_rows == 0:
                continue
            X = _matrix(b.column(0), d) - mu
            acc += X.T @ X
            n += b.num_rows
        yield pa.RecordBatch.from_arrays(
            [pa.array([acc.reshape(-1).tolist()]), pa.array([n])],
            names=["mm", "n"],
        )

    src = df.select(F.col(vec_col).alias("v"))
    parts_df = src.mapInArrow(partials, "mm array<double>, n long")
    n_part = src.rdd.getNumPartitions()
    if n_part > 64:
        # tree-merge: collecting one d x d partial PER PARTITION ships
        # ~P * 8d^2 bytes to the driver (d=768, P=100k -> ~470 GB). A
        # min(sqrt(P), 64)-way intermediate re-sum bounds the driver
        # fetch at 64 partials while each reducer streams its group in
        # ascending stage-1 partition order (hash assignment by
        # pid % k + sortWithinPartitions) — a canonical summation
        # order, so reruns are bit-identical.
        k = max(1, min(int(np.sqrt(n_part)), 64))
        staged = (
            parts_df.withColumn("pid", F.spark_partition_id())
            .repartition(k, F.pmod(F.col("pid"), F.lit(k)))
            .sortWithinPartitions("pid")
            .select("pid", "mm", "n")
        )

        def resum(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            acc = np.zeros((d, d), dtype=np.float64)
            cnt = 0
            grp = None
            for b in batches:
                if b.num_rows == 0:
                    continue
                # zero-copy batch decode (never per-row as_py in a
                # scale path): the values buffer IS a (rows, d, d) stack
                acc += _matrix(b.column(1), d * d).reshape(b.num_rows, d, d).sum(axis=0)
                cnt += int(b.column(2).to_numpy(zero_copy_only=False).sum())
                if grp is None:
                    # rows arrive pid-ascending, so this is the
                    # group's min pid — a unique, deterministic
                    # driver-merge sort key
                    grp = int(b.column(0)[0].as_py())
            if grp is None:
                return
            yield pa.RecordBatch.from_arrays(
                [pa.array([acc.reshape(-1).tolist()]), pa.array([cnt]),
                 pa.array([grp])],
                names=["mm", "n", "g"],
            )

        parts = sorted(
            staged.mapInArrow(resum, "mm array<double>, n long, g long").collect(),
            key=lambda r: r["g"],
        )
    else:
        parts = parts_df.collect()
    M = np.zeros((d, d), dtype=np.float64)
    n = 0
    for r in parts:
        M += np.asarray(r["mm"], dtype=np.float64).reshape(d, d)
        n += r["n"]
    if n == 0:
        raise ValueError("empty dataset")
    M /= n
    # canonical rounding so partition-order float jitter cannot flip
    # the eigendecomposition between runs
    M = np.floor(M * 1e9 + 0.5) / 1e9
    w, V = np.linalg.eigh(M)
    P = V[:, np.argsort(w)[::-1][:leanvec_dims]]
    # sign convention: largest-|component| positive per eigenvector
    flip = P[np.abs(P).argmax(axis=0), np.arange(P.shape[1])] < 0
    P[:, flip] *= -1.0
    return LeanVecModel(data_matrix=P, query_matrix=P, mean=mean)


def leanvec_project(
    df: DataFrame,
    model: LeanVecModel,
    side: str = "data",
    vec_col: str = "vector",
    out_col: str = "leanvec",
    center: bool = True,
) -> DataFrame:
    """Append the projected column: (x - mu) @ P (or x @ P with
    ``center=False`` — the ip query convention). One Arrow-batched
    BLAS matmul; all other columns pass through."""
    if side not in ("data", "query"):
        raise ValueError(f"side must be 'data' or 'query', got {side!r}")
    P = model.data_matrix if side == "data" else model.query_matrix
    mu = np.asarray(model.mean, dtype=np.float64) if center else None
    cols = df.columns
    if vec_col not in cols:
        raise ValueError(f"missing column {vec_col!r}")
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{out_col}` array<double>"]
    )

    d_in = model.dims

    def project(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            # values buffer in, BLAS matmul, values buffer out — no
            # per-row Python objects in the projection hot path
            X = _matrix(b.column(b.schema.names.index(vec_col)), d_in)
            if mu is not None:
                X = X - mu
            Y = np.ascontiguousarray(X @ P)
            new = list_rows(Y, n, Y.shape[1])
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in range(b.num_columns)] + [new],
                names=list(b.schema.names) + [out_col],
            )

    return df.mapInArrow(project, schema)


class LeanVecCodec(Codec):
    """LeanVec as a codec: storage is the data projection (of the
    unit-normalized data for cosine — cosine.h's normalize-then-IP
    reduction, so the scan runs in IP geometry), queries are projected
    with the query matrix (centered for l2 only: q . mu is a per-query
    constant for ip), and ``finish`` re-ranks the ``k_reorder``
    candidates exactly on the full-dimension secondary (float32).
    ``primary``: an LVQCodec over the PROJECTED data (params trained on
    the projection) — the LeanVec4x* / 8x* primary kinds, compression
    on top of the dimensionality reduction. ``compressed=True`` storage
    input is the persisted projection (of the normalized base for
    cosine): the reference stores the LeanVec dataset projected once at
    construction."""

    kind = "leanvec"
    reranks = True

    def __init__(self, model: LeanVecModel, primary=None, distance: str = "l2"):
        if distance not in ("l2", "ip", "cosine"):
            raise ValueError(f"leanvec primary supports l2/ip/cosine, got {distance!r}")
        super().__init__(distance)
        self.model, self.primary = model, primary

    @property
    def scan_distance(self) -> str:
        return "ip" if self.distance == "cosine" else self.distance

    @property
    def decode(self):
        return None if self.primary is None else self.primary.decode

    def unpacked(self) -> "LeanVecCodec":
        return LeanVecCodec(self.model, None, self.distance)

    def store(self, df, id_col, vec_col, compressed):
        if compressed:
            pb = df.select(F.col(id_col), F.col(vec_col))
        else:
            side = _normalized(df, vec_col) if self.distance == "cosine" else df
            pb = leanvec_project(side, self.model, "data", vec_col, "__pv").select(
                F.col(id_col), F.col("__pv").alias(vec_col)
            )
        return pb if self.primary is None else self.primary.store(pb, id_col, vec_col, False)

    def query(self, q):
        return leanvec_project(
            q, self.model, "query", "vector", "__pv", center=self.distance == "l2"
        ).select(F.col("qid").cast("long").alias("qid"), F.col("__pv").alias("vector"))

    def manifest_params(self):
        # the projection pair of training.h: queries cannot be projected
        # without the matrices, so they ARE the index
        m = self.model
        out = {
            "leanvec_mean": [float(x) for x in m.mean],
            "leanvec_data_matrix": m.data_matrix.tolist(),
            "leanvec_query_matrix": m.query_matrix.tolist(),
            "leanvec_distance": self.distance,
        }
        return out if self.primary is None else {**self.primary.manifest_params(), **out}

    @classmethod
    def from_manifest(cls, p):
        if p.get("leanvec_data_matrix") is None:
            return None
        model = LeanVecModel(
            data_matrix=np.asarray(p["leanvec_data_matrix"], dtype=np.float64),
            query_matrix=np.asarray(p["leanvec_query_matrix"], dtype=np.float64),
            mean=tuple(p["leanvec_mean"]),
        )
        return cls(model, LVQCodec.from_manifest(p), p.get("leanvec_distance", p["distance"]))


# The public LeanVec entry points: LeanVecCodec run by the
# operators.codec drivers, whose docstrings carry the k_reorder /
# base_compressed prose. ``primary_lvq`` is LVQParams TRAINED ON THE
# PROJECTED data.


def _codec(model, primary_lvq, distance) -> LeanVecCodec:
    return LeanVecCodec(model, None if primary_lvq is None else LVQCodec(primary_lvq), distance)


def leanvec_knn(
    base: DataFrame, queries: DataFrame, model: LeanVecModel, k: int,
    k_reorder: int, distance: str = "l2", id_col: str = "id",
    vec_col: str = "vector", qid_col: str = "qid", qvec_col: str | None = None,
    round_to: int | None = 4, primary_lvq=None,
    base_projected: DataFrame | None = None,
) -> DataFrame:
    """Two-stage LeanVec k-NN: top ``k_reorder`` in the projected space,
    exact full-dimension re-rank on ``base`` (the paper's pipeline).
    ``base_projected``: the PERSISTED (id, vector[m]) projection of
    ``base`` (:func:`leanvec_project`; of the normalized base for
    cosine) — without it every search re-projects the full base. See
    :func:`~scalablevectorsearch_spark.operators.codec.codec_knn`."""
    return codec_knn(
        _codec(model, primary_lvq, distance),
        base if base_projected is None else base_projected, queries, k, id_col,
        vec_col, qid_col, qvec_col, round_to, k_reorder, base_projected is not None,
        rerank_source=base,
    )


def leanvec_vamana_build(
    base: DataFrame, model: LeanVecModel, vamana_params=None, n_shards: int = 8,
    distance: str = "l2", id_col: str = "id", vec_col: str = "vector",
    primary_lvq=None, **build_kw,
):
    """Vamana IN the projected space (the reference's LeanVec-Vamana:
    traversal distances are m-dimensional; cosine traverses in IP
    geometry). See
    :func:`~scalablevectorsearch_spark.operators.codec.codec_vamana_build`."""
    return codec_vamana_build(
        _codec(model, primary_lvq, distance), base, vamana_params, n_shards, id_col,
        vec_col, **build_kw,
    )


def leanvec_vamana_search(
    index, queries: DataFrame, base: DataFrame, k: int, k_reorder: int,
    qid_col: str = "qid", qvec_col: str = "vector", vec_col: str = "vector",
    round_to: int | None = 4, **search_kw,
) -> DataFrame:
    """Graph search in the projected space + exact full-dimension
    re-rank against ``base`` (the secondary). See
    :func:`~scalablevectorsearch_spark.operators.codec.codec_vamana_search`."""
    if not isinstance(index.codec, LeanVecCodec):
        raise ValueError("index was not built with leanvec_vamana_build")
    return codec_vamana_search(
        index, queries, k, qid_col, qvec_col, round_to, k_reorder, base, vec_col,
        **search_kw,
    )
