"""Reference-compatible orchestrator façade — the ``svs.*`` user API,
served by the Spark engine.

Parity: the reference's primary user surface is NOT the index
internals but the type-erased orchestrator classes exported from
``bindings/python/src/svs/__init__.py`` (``svs.Vamana`` /
``svs.DynamicVamana`` / ``svs.Flat`` / ``svs.IVF`` — orchestrators/
{vamana,dynamic_vamana,flat,ivf}.h) plus the io/eval helpers in
``bindings/python/src/svs/common.py``. This module mirrors that
surface name-for-name so a reference user's script ports by changing
``import svs`` to ``from scalablevectorsearch_spark import api as svs``
(see ``examples/example_reference_api.py``, a line-by-line port of the
reference's ``examples/python/example_vamana.py`` flow).

Inputs may be numpy arrays (the reference's shape), DataFrames, or
``VectorDataLoader``s; numpy queries return numpy ``(I, D)`` matrices
exactly like ``manager.h:34-47``'s ``py_search``. Distribution is an
engine concern: every search/build call plans through the same
DataFrame operators the rest of the repo gates.

Deliberate differences (documented, not silent):
 - ``num_threads`` is accepted and ignored — parallelism belongs to
   the Spark session (local[N] / executors), not the call site.
 - ``save()`` writes the engine's manifest-complete single-directory
   format at ``config_dir`` (sources/index_store.py — it persists
   layout + centroids, which the reference splits across its three
   dirs); when ``graph_dir``/``data_dir`` are passed (the reference's
   3-dir signature), standalone graph/data parquet copies are ALSO
   written there, each independently loadable with ``GraphLoader`` /
   ``VectorDataLoader``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from enum import Enum

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.vamana_local import VamanaParams

__all__ = [
    "DistanceType", "DataType", "VamanaBuildParameters",
    "IVFBuildParameters", "IVFSearchParameters", "SearchBufferConfig",
    "VamanaSearchParameters", "VectorDataLoader", "GraphLoader",
    "LVQLoader", "LeanVecLoader", "Flat", "Vamana", "DynamicVamana",
    "DynamicFlat", "DynamicIVF", "Clustering", "IVF", "ANNException",
    "k_recall_at", "generate_test_dataset", "read_vecs", "write_vecs",
    "read_npy", "read_svs", "write_svs", "upgrader",
]


class ANNException(RuntimeError):
    """svs.ANNException — the reference's error type for invalid
    configurations (lib/exception.h)."""


class DistanceType(Enum):
    """core/distance.h DistanceType — L2 / MIP (inner product) / Cosine."""

    L2 = "l2"
    MIP = "ip"
    Cosine = "cosine"


class DataType(Enum):
    """core/data_type.h subset the engine stores natively."""

    float32 = "float32"
    float16 = "float16"
    int8 = "int8"
    uint8 = "uint8"


def _dist(d) -> str:
    if isinstance(d, DistanceType):
        return d.value
    if isinstance(d, str) and d in ("l2", "ip", "cosine"):
        return d
    raise ValueError(f"unknown distance {d!r}")


#: reference build-parameter names (build_params.h:29-68) — alias of the
#: engine's VamanaParams, which already uses the same field names
VamanaBuildParameters = VamanaParams


@dataclass
class IVFBuildParameters:
    """ivf/build_params.h — num_centroids + training iterations."""

    num_centroids: int = 64
    max_iterations: int = 2


@dataclass
class IVFSearchParameters:
    """ivf/common.h:151-166 — n_probes + k_reorder (exact re-rank)."""

    n_probes: int = 8
    k_reorder: int | None = None


class SearchBufferConfig:
    """search_buffer.h:39-60 / bindings vamana_common.cpp:76 — the
    split-buffer sizing pair. ``search_buffer_capacity`` defaults to
    ``search_window_size``; a capacity below the window raises
    ANNException like the reference."""

    def __init__(self, search_window_size: int = 0,
                 search_buffer_capacity: int | None = None):
        cap = search_window_size if search_buffer_capacity is None else search_buffer_capacity
        if cap < search_window_size:
            raise ANNException(
                f"search_buffer_capacity {cap} < search_window_size "
                f"{search_window_size}"
            )
        self._sws = search_window_size
        self._cap = cap

    @property
    def search_window_size(self) -> int:
        return self._sws

    @property
    def search_buffer_capacity(self) -> int:
        return self._cap

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, SearchBufferConfig)
            and (self._sws, self._cap) == (other._sws, other._cap)
        )

    def __str__(self) -> str:
        return f"SearchBufferConfig({self._sws}, {self._cap})"


class VamanaSearchParameters:
    """index/vamana/search_params.h via bindings vamana_common.cpp:121
    — buffer_config + visited-set toggle. ``prefetch_lookahead`` /
    ``prefetch_step`` are accepted for signature parity and ignored:
    software prefetch distances are register-level tuning with no
    DataFrame analog (documented drop, SURVEY §2.13 note)."""

    def __init__(self, buffer_config: SearchBufferConfig | None = None,
                 search_buffer_visited_set: bool = False,
                 prefetch_lookahead: int = 4, prefetch_step: int = 1):
        self.buffer_config = buffer_config or SearchBufferConfig()
        self.search_buffer_visited_set = search_buffer_visited_set
        self.prefetch_lookahead = prefetch_lookahead
        self.prefetch_step = prefetch_step

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, VamanaSearchParameters)
            and self.buffer_config == other.buffer_config
            and self.search_buffer_visited_set == other.search_buffer_visited_set
        )


def _spark() -> SparkSession:
    """The caller's live session, as is: re-running ``get_spark()`` on
    it would re-apply the engine defaults (shuffle partitions
    included) over the caller's settings."""
    from scalablevectorsearch_spark.session import get_spark

    return SparkSession.getActiveSession() or get_spark()


class VectorDataLoader:
    """core.cpp:48-88 — typed, dims-checked dataset handle. Supports the
    reference's on-disk formats (*vecs / *.npy / native .svs) plus the
    engine's parquet tables; ``load()`` validates dims + element type
    like ``check_dims`` (simple.h:44-51)."""

    def __init__(self, path: str, data_type: DataType = DataType.float32,
                 dims: int | None = None):
        self.path = path
        self.data_type = data_type
        self.dims = dims

    def load(self, spark: SparkSession | None = None) -> DataFrame:
        from scalablevectorsearch_spark.functions.schema import validate_vector_table
        from scalablevectorsearch_spark.sources import vecs as vio

        spark = spark or _spark()
        p = self.path
        if os.path.isdir(p) or p.endswith(".parquet"):
            df = spark.read.parquet(p)
            if "id" not in df.columns:
                # engine fixture shape (vec_id, embedding)
                df = df.selectExpr("vec_id as id", "embedding as vector")
        elif p.endswith(".npy"):
            df = vio.npy_to_df(spark, p)
        elif p.endswith(".svs"):
            df = vio.svs_to_df(spark, p)
        else:
            df = vio.vecs_to_df(spark, p)
        validate_vector_table(df, expected_dims=self.dims)
        return df


class GraphLoader:
    """GraphLoader (graph/simple.h load) — handle on a saved adjacency
    parquet (src BIGINT, neighbors ARRAY<BIGINT>, ...)."""

    def __init__(self, path: str):
        self.path = path

    def load(self, spark: SparkSession | None = None) -> DataFrame:
        return (spark or _spark()).read.parquet(self.path)


class LVQLoader:
    """svs.LVQLoader (vamana_with_compression_lvq.py:63-71) — wraps an
    uncompressed loader with LVQ compression parameters. ``primary`` /
    ``residual`` are the bit widths (storage kinds LVQ4x0 / LVQ8x0 /
    LVQ4x4 / LVQ4x8, api_defs.h:98-109); ``strategy`` is accepted for
    signature parity (the reference's sequential/turbo are SIMD
    register layouts with no DataFrame analog)."""

    def __init__(self, loader, primary: int = 8, residual: int = 0,
                 strategy: str | None = None, padding: int | None = None):
        if primary not in (4, 8):
            raise ValueError(f"primary must be 4 or 8, got {primary}")
        if residual not in (0, 4, 8):
            raise ValueError(f"residual must be 0, 4 or 8, got {residual}")
        self.loader = loader
        self.primary = primary
        self.residual = residual

    def encode(self, base: DataFrame, distance: str):
        """(codec, lvq_* storage table, compressed=True): the build reads
        the storage table, which is also the two-level re-rank source."""
        from scalablevectorsearch_spark.operators.lvq import (
            LVQCodec,
            lvq_compress,
            lvq_train,
        )

        p = lvq_train(base, primary_bits=self.primary, residual_bits=self.residual)
        return LVQCodec(p, distance=distance), lvq_compress(base, p), True


class LeanVecLoader:
    """svs.LeanVecLoader — wraps an uncompressed loader with LeanVec
    dimensionality reduction (data_traits.h:49-54 leanvec_dims /
    primary_kind / secondary_kind; storage kinds LeanVec4x4 / 4x8 /
    8x8). ``leanvec_dims`` is the projected dimensionality; kinds are
    "float32" / "lvq4" / "lvq8" (primary compresses the PROJECTED
    vectors; the secondary full-dimension re-rank representation is
    float32 here — an LVQ secondary composes via operators.leanvec
    directly). Pass ``matrices=(A, B)`` to use external projection
    matrices (training.h:47-66) instead of training PCA."""

    def __init__(self, loader, leanvec_dims: int,
                 primary_kind: str = "float32",
                 secondary_kind: str = "float32",
                 matrices=None):
        if primary_kind not in ("float32", "lvq4", "lvq8"):
            raise ValueError(f"unknown primary_kind {primary_kind!r}")
        if secondary_kind not in ("float32",):
            raise ValueError(
                "secondary_kind float32 only at the facade level; compose "
                "an LVQ secondary via operators.leanvec directly"
            )
        self.loader = loader
        self.leanvec_dims = leanvec_dims
        self.primary_kind = primary_kind
        self.matrices = matrices

    def encode(self, base: DataFrame, distance: str):
        """(codec, base, compressed=False): the build projects ``base``,
        which is also the full-dimension re-rank source."""
        from scalablevectorsearch_spark.operators.leanvec import (
            LeanVecCodec,
            LeanVecModel,
            dataset_mean,
            leanvec_train,
        )
        from scalablevectorsearch_spark.operators.lvq import LVQCodec, lvq_train

        if self.matrices is None:
            model = leanvec_train(base, self.leanvec_dims)
        else:
            A, B = map(np.asarray, self.matrices)
            model = LeanVecModel(A, B, dataset_mean(base, "vector"))
        primary = None
        if self.primary_kind != "float32":
            # the LVQ primary trains on the (l2-codec) data projection
            pb = LeanVecCodec(model).store(base, "id", "vector", False)
            primary = LVQCodec(lvq_train(pb, primary_bits=4 if self.primary_kind == "lvq4" else 8))
        return LeanVecCodec(model, primary, distance), base, False


def _to_df(data, spark: SparkSession, id_offset: int = 0) -> DataFrame:
    """numpy (n, d) | DataFrame | VectorDataLoader -> (id, vector)."""
    if isinstance(data, VectorDataLoader):
        return data.load(spark)
    if isinstance(data, DataFrame):
        return data
    X = np.asarray(data, dtype=np.float32)
    rows = [(int(i + id_offset), [float(v) for v in X[i]]) for i in range(len(X))]
    return spark.createDataFrame(rows, "id long, vector array<float>")


def _rows_df(points, ids, spark: SparkSession) -> DataFrame:
    """(points, ids) of an ``add`` -> (id, vector) rows."""
    X = np.asarray(points, dtype=np.float32)
    ids = np.asarray(ids, dtype=np.int64)
    rows = [(int(ids[i]), [float(v) for v in X[i]]) for i in range(len(X))]
    return spark.createDataFrame(rows, "id long, vector array<float>")


def _ids_df(ids, spark: SparkSession) -> DataFrame:
    """The ids of a ``delete`` (array-like or DataFrame) -> (id) rows."""
    if isinstance(ids, DataFrame):
        return ids
    return spark.createDataFrame([(int(v),) for v in np.asarray(ids).ravel()], "id long")


def _queries_df(queries, spark: SparkSession) -> tuple[DataFrame, int | None]:
    """Returns (df, nq) with nq set when the input was numpy (and the
    caller should hand back numpy results)."""
    if isinstance(queries, DataFrame):
        return queries, None
    X = np.asarray(queries, dtype=np.float32)
    rows = [(int(i), [float(v) for v in X[i]]) for i in range(len(X))]
    return spark.createDataFrame(rows, "qid long, vector array<float>"), len(X)


def _to_numpy(res: DataFrame, nq: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(qid, rank, neighbor_id, distance) rows -> (I, D) matrices, the
    reference's QueryResult shape (manager.h py_search). Short rows pad
    with id -1 / +inf like an unconverged buffer slot.

    DRIVER-BOUND parity path: only taken when the CALLER handed in a
    numpy query batch (so the result is nq*k rows — small by
    construction). DataFrame-in always returns DataFrame-out; query
    tables too large for the driver should stay DataFrames end-to-end."""
    I = np.full((nq, k), -1, dtype=np.int64)
    D = np.full((nq, k), np.inf, dtype=np.float64)
    for row in res.select("qid", "rank", "neighbor_id", "distance").collect():
        q, r = int(row["qid"]), int(row["rank"]) - 1
        if 0 <= q < nq and 0 <= r < k:
            I[q, r] = row["neighbor_id"]
            D[q, r] = row["distance"]
    return I, D


class Flat:
    """orchestrators/exhaustive.h — exact scan index."""

    def __init__(self, data, distance=DistanceType.L2, num_threads: int | None = None):
        self.spark = _spark()
        self.data = _to_df(data, self.spark)
        self.distance = _dist(distance)

    @property
    def size(self) -> int:
        return self.data.count()

    @property
    def dimensions(self) -> int:
        return len(self.data.select("vector").first()["vector"])

    def search(self, queries, k: int, **kw):
        from scalablevectorsearch_spark.operators.flat import flat_knn

        qdf, nq = _queries_df(queries, self.spark)
        res = flat_knn(self.data, qdf, k=k, distance=self.distance, **kw)
        return _to_numpy(res, nq, k) if nq is not None else res


class Vamana:
    """orchestrators/vamana.h — the static graph index.

    ``search_window_size`` is a mutable attribute exactly like the
    reference orchestrator's property (vamana.h:89)."""

    def __init__(self, config_path: str, graph_loader: GraphLoader | None = None,
                 data_loader: VectorDataLoader | None = None,
                 distance=None, num_threads: int | None = None):
        """Load a saved index. ``config_path`` is the engine's
        manifest-complete save directory (see module docstring);
        ``graph_loader``/``data_loader`` are accepted for reference-
        signature parity and, when given, validated against the
        assembled index (dims / node count)."""
        from scalablevectorsearch_spark.sources.index_store import load_vamana

        self.spark = _spark()
        self.index = load_vamana(self.spark, config_path, validate=True)
        if data_loader is not None:
            dims = len(self.index.base.select(self.index.vec_col).first()[0])
            if data_loader.dims is not None and data_loader.dims != dims:
                raise ValueError(f"data_loader dims {data_loader.dims} != index dims {dims}")
        if graph_loader is not None:
            g = graph_loader.load(self.spark)
            if g.count() != self.index.graph.count():
                raise ValueError("graph_loader node count != saved index graph")
        self.search_window_size = max(10, self.index.params.window_size // 2)
        self._rerank_source = None

    @classmethod
    def build(cls, parameters: VamanaBuildParameters, data,
              distance=DistanceType.L2, num_threads: int | None = None,
              n_shards: int = 8, shard_by: str = "hash", **kw) -> "Vamana":
        """Accepts uncompressed data (numpy / DataFrame /
        VectorDataLoader) or a compressed-loader wrapper — LVQLoader /
        LeanVecLoader — exactly like the reference's
        ``svs.Vamana.build(parameters, svs.LVQLoader(...), ...)``."""
        from scalablevectorsearch_spark.operators.codec import Codec, codec_vamana_build

        self = cls.__new__(cls)
        self.spark = _spark()
        if isinstance(data, (LVQLoader, LeanVecLoader)):
            base = _to_df(data.loader, self.spark).select("id", "vector")
            codec, table, compressed = data.encode(base, _dist(distance))
        else:
            codec = Codec(_dist(distance))
            table, compressed = _to_df(data, self.spark).select("id", "vector"), False
        self.index = codec_vamana_build(
            codec, table, parameters, n_shards=n_shards, shard_by=shard_by,
            base_compressed=compressed, **kw,
        )
        # the table the codec re-ranks on (LVQ storage, LeanVec secondary)
        self._rerank_source = table
        self.index.graph.cache().count()
        self.search_window_size = max(10, parameters.window_size // 2)
        return self

    @property
    def size(self) -> int:
        return self.index.base.count()

    @property
    def dimensions(self) -> int:
        return len(self.index.base.select(self.index.vec_col).first()[0])

    @property
    def search_parameters(self) -> VamanaSearchParameters:
        """vamana.h search_parameters property — reflects and controls
        the mutable window/capacity pair."""
        return VamanaSearchParameters(
            SearchBufferConfig(
                self.search_window_size,
                getattr(self, "_buffer_capacity", None) or self.search_window_size,
            )
        )

    @search_parameters.setter
    def search_parameters(self, params: VamanaSearchParameters) -> None:
        self.search_window_size = params.buffer_config.search_window_size
        cap = params.buffer_config.search_buffer_capacity
        self._buffer_capacity = cap if cap > self.search_window_size else None

    def search(self, queries, k: int, rerank_base=None, **kw):
        """Runs the index's codec through ``codec_vamana_search``:
        plain/SQ/LVQ indexes search directly, a residual-LVQ index
        re-ranks on its two-level reconstruction and a LeanVec index
        projects the query and re-ranks at full dimension, each with
        ``k_reorder`` = the search window. ``rerank_base`` overrides the
        re-rank table (the lvq_* storage table, or the full-dimension
        data for LeanVec) — required when the index came from
        ``Vamana(path)`` rather than ``build``, since the manifest does
        not hold it."""
        from scalablevectorsearch_spark.operators.codec import codec_vamana_search

        qdf, nq = _queries_df(queries, self.spark)
        window = max(self.search_window_size, k)
        cap = getattr(self, "_buffer_capacity", None)
        if cap is not None:
            kw.setdefault("buffer_capacity", max(cap, window))
        source = self._rerank_source
        if rerank_base is not None:
            source = _to_df(rerank_base, self.spark)
        if source is None and self.index.codec is not None and self.index.codec.reranks:
            raise ValueError(
                "index loaded from disk re-ranks on a table its manifest does "
                "not hold: pass rerank_base= (the lvq_* compressed storage "
                "table for residual LVQ, the full-dimension data for LeanVec)"
            )
        res = codec_vamana_search(
            self.index, qdf, k=k, k_reorder=window, rerank_source=source,
            search_window_size=window, **kw,
        )
        return _to_numpy(res, nq, k) if nq is not None else res

    def batch_iterator(self, queries, batch_size: int = 10):
        """vamana.h:83/iterator.h:77-134 — paged result iterator."""
        from scalablevectorsearch_spark.operators.iterator import (
            BatchIterator,
            DefaultSchedule,
        )
        from scalablevectorsearch_spark.operators.vamana import vamana_search

        qdf, _ = _queries_df(queries, self.spark)

        def _search(k, window):
            return vamana_search(
                self.index, qdf, k=k, search_window_size=max(window, k)
            )

        return BatchIterator(
            search_fn=_search,
            schedule=DefaultSchedule(
                batch_size, window_base=max(self.search_window_size, batch_size)
            ),
        )

    def experimental_calibrate(self, queries, groundtruth, k: int,
                               target_recall: float):
        """vamana.h:211-246 — binary-search the window for a recall
        target; sets ``search_window_size`` and returns it."""
        from scalablevectorsearch_spark.operators.calibrate import calibrate_window
        from scalablevectorsearch_spark.operators.vamana import vamana_search

        qdf, _ = _queries_df(queries, self.spark)
        gt = groundtruth
        if not isinstance(gt, DataFrame):
            G = np.asarray(gt)
            rows = [
                (int(q), r + 1, int(G[q, r]))
                for q in range(G.shape[0]) for r in range(min(k, G.shape[1]))
            ]
            gt = self.spark.createDataFrame(rows, "qid long, rank long, neighbor_id long")

        def _search(window: int) -> DataFrame:
            return vamana_search(self.index, qdf, k=k, search_window_size=window)

        out = calibrate_window(_search, gt, k=k, target_recall=target_recall)
        self.search_window_size = out.search_window_size
        return out.search_window_size

    def save(self, config_dir: str, graph_dir: str | None = None,
             data_dir: str | None = None) -> None:
        from scalablevectorsearch_spark.sources.index_store import save_vamana

        save_vamana(self.index, config_dir)
        if graph_dir is not None:
            self.index.graph.write.mode("overwrite").parquet(graph_dir)
        if data_dir is not None:
            self.index.base.select(
                F.col(self.index.id_col).cast("long").alias("id"),
                F.col(self.index.vec_col).alias("vector"),
            ).write.mode("overwrite").parquet(data_dir)


class DynamicVamana(Vamana):
    """orchestrators/dynamic_vamana.h — the mutable graph index.
    ``add``/``delete``/``consolidate``/``compact`` chain like the
    reference (``index.consolidate().compact(1000)``)."""

    @classmethod
    def build(cls, parameters: VamanaBuildParameters, data, ids=None,
              distance=DistanceType.L2, num_threads: int | None = None,
              n_shards: int = 8, **kw) -> "DynamicVamana":
        from scalablevectorsearch_spark.operators.dynamic import dynamic_vamana

        self = super().build(parameters, data, distance, n_shards=n_shards, **kw)
        self.__class__ = cls
        if ids is not None and not isinstance(data, DataFrame):
            ids = np.asarray(ids, dtype=np.int64)
            if not np.array_equal(ids, np.arange(len(ids))):
                raise ValueError(
                    "non-contiguous external ids: pass data as a DataFrame "
                    "with your own id column instead"
                )
        self.dyn = dynamic_vamana(self.index)
        return self

    def add(self, points, ids) -> "DynamicVamana":
        from scalablevectorsearch_spark.operators.dynamic import add_points

        self.dyn = add_points(self.dyn, _rows_df(points, ids, self.spark))
        return self

    def delete(self, ids) -> "DynamicVamana":
        from scalablevectorsearch_spark.operators.dynamic import delete_entries

        self.dyn = delete_entries(self.dyn, _ids_df(ids, self.spark))
        return self

    def consolidate(self) -> "DynamicVamana":
        from scalablevectorsearch_spark.operators.dynamic import consolidate

        self.dyn = consolidate(self.dyn)
        return self

    def compact(self, batch_size: int | None = None) -> "DynamicVamana":
        """dynamic_vamana.h compact — id defrag; ``batch_size`` accepted
        for signature parity (the distributed dense-rank remap has no
        driver batching to tune). NOTE: unlike the reference, which
        compacts internal slots behind a stable external-id translation
        (dynamic_index.h), this engine's ids ARE the storage key, so
        compact remaps surviving ids to their dense rank — callers that
        need the old ids should keep the returned mapping of
        operators.dynamic.compact_index."""
        from scalablevectorsearch_spark.operators.dynamic import (
            compact_index,
            consolidate,
        )

        dyn = consolidate(self.dyn)
        new_index, _mapping = compact_index(dyn.index)
        self.index = new_index
        # the compacted index reads the consolidated generation: its
        # owners move to the new handle, which also owns the layout
        # compact_index persisted; the next mutation releases them all
        self.dyn = dyn._moved(index=new_index, gens_since_ckpt=0)
        if new_index.layout is not None:
            self.dyn.pins.persist(new_index.layout)
        return self

    def all_ids(self) -> np.ndarray:
        """dynamic_vamana.h all_ids — the live (non-tombstoned) id set.

        DRIVER-BOUND parity API: like the reference (which returns a
        numpy array), this collects every live id to the driver — fine
        for the reference's single-node scales, wrong for a 100 TB
        table. DataFrame users should instead anti-join
        ``index.base`` against ``self.dyn.tombstones`` (exactly the
        plan below, minus the collect) and keep the result distributed."""
        base = self.dyn.index.base.select(
            F.col(self.dyn.index.id_col).alias("id")
        ).join(self.dyn.tombstones, "id", "left_anti")
        return np.sort(np.asarray([r[0] for r in base.collect()], dtype=np.int64))

    def search(self, queries, k: int, **kw):
        from scalablevectorsearch_spark.operators.dynamic import dynamic_search

        qdf, nq = _queries_df(queries, self.spark)
        res = dynamic_search(
            self.dyn, qdf, k=k,
            search_window_size=max(self.search_window_size, k), **kw,
        )
        return _to_numpy(res, nq, k) if nq is not None else res


class DynamicFlat:
    """bindings dynamic_flat.cpp:245 — the mutable exact-scan index:
    add/delete mutate the scanned set; search is always exact over the
    live rows (dynamic_flat_knn)."""

    def __init__(self, data, distance=DistanceType.L2,
                 num_threads: int | None = None):
        self.spark = _spark()
        self.data = _to_df(data, self.spark).select("id", "vector")
        self.distance = _dist(distance)
        self._added = None
        self._deleted = None

    @classmethod
    def build(cls, data, ids=None, distance=DistanceType.L2,
              num_threads: int | None = None) -> "DynamicFlat":
        return cls(data, distance)

    def add(self, points, ids) -> "DynamicFlat":
        rows = _rows_df(points, ids, self.spark)
        self._added = rows if self._added is None else self._added.unionByName(rows)
        return self

    def delete(self, ids) -> "DynamicFlat":
        ids = _ids_df(ids, self.spark)
        self._deleted = ids if self._deleted is None else self._deleted.unionByName(ids)
        return self

    def search(self, queries, k: int, **kw):
        from scalablevectorsearch_spark.operators.dynamic import dynamic_flat_knn

        qdf, nq = _queries_df(queries, self.spark)
        res = dynamic_flat_knn(
            self.data, qdf, k=k, added=self._added, deleted_ids=self._deleted,
            distance=self.distance, **kw,
        )
        return _to_numpy(res, nq, k) if nq is not None else res


class DynamicIVF:
    """bindings dynamic_ivf.cpp:566 — the mutable cluster-probing
    index: appended rows stamp to their nearest existing cell,
    tombstones mask members, ``recluster`` retrains (dynamic_ivf.h)."""

    def __init__(self, dyn, distance: str = "l2"):
        self.spark = _spark()
        self.dyn = dyn
        self.distance = distance
        self.search_parameters = IVFSearchParameters()

    @classmethod
    def build(cls, build_parameters: IVFBuildParameters, data, ids=None,
              distance=DistanceType.L2, num_threads: int | None = None) -> "DynamicIVF":
        from scalablevectorsearch_spark.operators.dynamic import dynamic_ivf
        from scalablevectorsearch_spark.operators.ivf import ivf_build

        spark = _spark()
        base = _to_df(data, spark).select("id", "vector")
        index = ivf_build(
            base, build_parameters.num_centroids,
            n_iters=build_parameters.max_iterations,
        )
        index.clustered.cache().count()
        return cls(dynamic_ivf(index), _dist(distance))

    def add(self, points, ids) -> "DynamicIVF":
        from scalablevectorsearch_spark.operators.dynamic import ivf_add_points

        self.dyn = ivf_add_points(self.dyn, _rows_df(points, ids, self.spark))
        return self

    def delete(self, ids) -> "DynamicIVF":
        from scalablevectorsearch_spark.operators.dynamic import ivf_delete_entries

        self.dyn = ivf_delete_entries(self.dyn, _ids_df(ids, self.spark))
        return self

    def recluster(self, n_iters: int = 2) -> "DynamicIVF":
        from scalablevectorsearch_spark.operators.dynamic import ivf_recluster

        self.dyn = ivf_recluster(self.dyn, n_iters=n_iters)
        return self

    def search(self, queries, k: int, **kw):
        from scalablevectorsearch_spark.operators.dynamic import ivf_dynamic_search

        qdf, nq = _queries_df(queries, self.spark)
        res = ivf_dynamic_search(
            self.dyn, qdf, k=k, n_probes=self.search_parameters.n_probes,
            distance=self.distance, **kw,
        )
        return _to_numpy(res, nq, k) if nq is not None else res


class Clustering:
    """ivf orchestrator's standalone clustering artifact
    (svs.Clustering.build in example_ivf.py)."""

    def __init__(self, model, n_iters: int):
        self.model = model
        self.n_iters = n_iters

    @classmethod
    def build(cls, build_parameters: IVFBuildParameters, data_loader,
              distance=DistanceType.L2, num_threads: int | None = None) -> "Clustering":
        from scalablevectorsearch_spark.operators.kmeans import train_kmeans

        spark = _spark()
        base = _to_df(data_loader, spark).select("id", "vector")
        model = train_kmeans(
            base, build_parameters.num_centroids, build_parameters.max_iterations
        )
        return cls(model, build_parameters.max_iterations)


class IVF:
    """orchestrators/ivf.h — cluster-probing index.
    ``search_parameters`` is the mutable IVFSearchParameters struct,
    like the reference's property."""

    def __init__(self, index):
        self.spark = _spark()
        self.index = index
        self.search_parameters = IVFSearchParameters()

    @classmethod
    def assemble_from_clustering(cls, clustering: Clustering, data_loader,
                                 distance=DistanceType.L2,
                                 num_threads: int | None = None) -> "IVF":
        from scalablevectorsearch_spark.operators.ivf import IVFIndex
        from scalablevectorsearch_spark.operators.kmeans import stamp_clusters

        spark = _spark()
        base = _to_df(data_loader, spark).select("id", "vector")
        clustered = stamp_clusters(base, clustering.model)
        index = IVFIndex(clustered=clustered, model=clustering.model)
        index.clustered.cache().count()
        self = cls(index)
        self.distance = _dist(distance)
        return self

    @classmethod
    def build(cls, build_parameters: IVFBuildParameters, data,
              distance=DistanceType.L2, num_threads: int | None = None) -> "IVF":
        from scalablevectorsearch_spark.operators.ivf import ivf_build

        spark = _spark()
        base = _to_df(data, spark).select("id", "vector")
        index = ivf_build(
            base, build_parameters.num_centroids,
            n_iters=build_parameters.max_iterations,
        )
        index.clustered.cache().count()
        self = cls(index)
        self.distance = _dist(distance)
        return self

    @property
    def size(self) -> int:
        return self.index.clustered.count()

    @property
    def dimensions(self) -> int:
        return len(self.index.clustered.select("vector").first()[0])

    def search(self, queries, k: int, **kw):
        from scalablevectorsearch_spark.operators.ivf import ivf_search

        qdf, nq = _queries_df(queries, self.spark)
        sp = self.search_parameters
        res = ivf_search(
            self.index, qdf, k=k, n_probes=sp.n_probes,
            distance=getattr(self, "distance", "l2"),
            k_reorder=sp.k_reorder, **kw,
        )
        return _to_numpy(res, nq, k) if nq is not None else res


def k_recall_at(groundtruth, results, k: int, n: int) -> float:
    """common.py k_recall_at — fraction of the true top-k found in the
    returned top-n, averaged over queries (numpy-shape parity with the
    reference's eval helper; the DataFrame version is
    operators/recall.py)."""
    G = np.asarray(groundtruth)[:, :k]
    R = np.asarray(results)[:, :n]
    hits = sum(
        len(set(G[i].tolist()) & set(R[i].tolist())) for i in range(G.shape[0])
    )
    return hits / (G.shape[0] * k)


def generate_test_dataset(num_vectors: int, num_queries: int, num_dimensions: int,
                          directory: str, data_seed: int = 1234,
                          query_seed: int = 5678, num_threads: int | None = None,
                          distance=DistanceType.L2, k: int = 100, **kw) -> None:
    """common.py:214-265 parity wrapper over the engine's generator
    (writes data/queries/groundtruth under ``directory``)."""
    from scalablevectorsearch_spark.sources.vecs import generate_test_dataset as gen

    # the engine generator draws data and queries from ONE seeded
    # stream; both reference seeds are folded in so changing either
    # still yields a different dataset
    gen(
        _spark(), num_vectors, num_queries, num_dimensions, directory,
        seed=(data_seed * 1_000_003 + query_seed) % (2**63),
        distance=_dist(distance), k=min(k, num_vectors),
    )


def read_vecs(path: str) -> np.ndarray:
    from scalablevectorsearch_spark.sources import vecs as vio

    return vio.read_vecs(path)


def write_vecs(path: str, X: np.ndarray) -> None:
    from scalablevectorsearch_spark.sources import vecs as vio

    vio.write_vecs(path, X)


def read_npy(path: str) -> np.ndarray:
    from scalablevectorsearch_spark.sources import vecs as vio

    return vio.read_npy(path)


def read_svs(path: str) -> np.ndarray:
    from scalablevectorsearch_spark.sources import vecs as vio

    return vio.read_svs(path)


def write_svs(path: str, X: np.ndarray) -> None:
    from scalablevectorsearch_spark.sources import vecs as vio

    vio.write_svs(path, X)


def convert_vecs_to_svs(vecs_file: str, svs_file: str, dtype: str = "float32") -> None:
    """File-format converter (python_bindings.cpp `convert_vecs_to_svs`):
    read a `*vecs` file, write the native `.svs` V1 layout."""
    from scalablevectorsearch_spark.sources import vecs as vio

    vio.write_svs(svs_file, vio.read_vecs(vecs_file).astype(dtype))


def library_version() -> str:
    """Engine version string (python_bindings.cpp `library_version`)."""
    from scalablevectorsearch_spark import __version__

    return __version__


def have_mkl() -> bool:
    """MKL-backend probe (python_bindings.cpp `have_mkl`). This engine's
    kernels run on numpy's BLAS inside Spark tasks; there is no MKL
    backend to toggle, so this is always False — callers branching on it
    get the generic path, which is the only path."""
    return False


class _Upgrader:
    """svs.upgrader (bindings/python/src/svs/upgrader.py) — migrates a
    saved index directory to the current serialization version; the
    engine analog is the manifest upgrader of sources/index_store.py."""

    @staticmethod
    def upgrade(path: str) -> None:
        from scalablevectorsearch_spark.sources.index_store import upgrade_index

        upgrade_index(path)


#: module-level singleton, used as ``svs.upgrader.upgrade(path)``
upgrader = _Upgrader()
