"""The one codec seam: SQ, LVQ and LeanVec plug into Flat and Vamana as
codecs run by three drivers.

Parity: the reference plugs each compressed dataset into every index
family through one extension point templated over the dataset type
(include/svs/extensions/{flat,vamana}/*.h). Here a codec is a small
object and the drivers below run encode -> scan/graph -> finish once
for all of them:

 - ``store(df, id_col, vec_col, compressed)``: the ``(id_col, vec_col)``
   rows the flat scan reads or the Vamana layout holds.
 - ``decode``: the vectorized numpy hook that turns stored rows into
   vectors inside every kernel (``None`` when the rows already are).
   A codec with a ``decode`` also has ``unpacked()``: the same codec
   with its packing off, whose rows are in the geometry the decoded
   rows live in (where kmeans shard centroids are trained).
 - ``query(q)`` and ``scan_distance``: the ``(qid, vector)`` query rows
   and the metric the scan or graph runs in.
 - ``finish(cands, queries, k, round_to, rerank_source, ...)``: turns
   scan candidates into results (a distance correction, or one exact
   re-rank of the ``k_reorder`` candidates). That re-rank,
   :func:`_rerank_reconstruction`, is the engine's only one: IVF's
   ``k_reorder`` runs it too.
 - ``manifest_params()`` / ``from_manifest(p)``: the codec's identity in
   a saved index's manifest.

:class:`Codec` itself is the uncompressed codec; ``sq.SQCodec``,
``lvq.LVQCodec`` and ``leanvec.LeanVecCodec`` override what they
change. A codec carries the caller's distance.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalablevectorsearch_spark.functions.distances import is_similarity
from scalablevectorsearch_spark.operators.flat import _kernel_matrix, collect_queries
from scalablevectorsearch_spark.operators.topk import rank_candidates


def dataset_mean(df: DataFrame, vec_col: str, round_decimals: int = 6) -> tuple:
    """The component-wise mean (medioid.compute_medioid) rounded half-up
    at 1e-6, so Spark and the DuckDB oracles share one canonical value
    (the kmeans.py determinism protocol) — the centering vector of LVQ
    and LeanVec."""
    import math

    from scalablevectorsearch_spark.operators.medioid import compute_medioid

    mean = compute_medioid(df, vec_col)
    if not mean:
        raise ValueError("empty dataset")
    s = float(10**round_decimals)
    return tuple(math.floor(m * s + 0.5) / s for m in mean)


class Codec:
    """Uncompressed vectors; the base every codec overrides."""

    kind: str | None = None
    #: True when ``finish`` re-ranks ``k_reorder`` candidates
    reranks = False
    decode = None

    def __init__(self, distance: str = "l2"):
        self.distance = distance

    @property
    def scan_distance(self) -> str:
        return self.distance

    def store(self, df: DataFrame, id_col: str, vec_col: str, compressed: bool) -> DataFrame:
        return df.select(F.col(id_col), F.col(vec_col))

    def query(self, q: DataFrame) -> DataFrame:
        return q

    def rerank_storage(self, vec_col: str):
        """The re-rank source column and its numpy decoder."""
        return F.col(vec_col), None

    def finish(
        self, cands: DataFrame, queries: DataFrame, k: int, round_to: int | None,
        rerank_source: DataFrame | None = None, id_col: str = "id",
        vec_col: str = "vector", query_batch: tuple | None = None,
    ) -> DataFrame:
        """Re-rank ``cands`` exactly on ``rerank_source`` (skipped when
        it is None). ``queries`` is the full-precision (qid, vector)
        batch; ``query_batch`` the same batch already collected."""
        if rerank_source is None:
            return cands
        col, decode = self.rerank_storage(vec_col)
        rows = rerank_source.select(
            F.col(id_col).cast("long").alias("neighbor_id"), col.alias("__bv")
        )
        return _rerank_reconstruction(
            cands, rows, queries, k, self.distance, round_to, decode=decode,
            query_batch=query_batch,
        )

    def manifest_params(self) -> dict:
        """This codec's manifest params; each codec class also has
        ``from_manifest(p)``, returning None when ``p`` is not its."""
        return {}


def load_codec(p: dict) -> Codec | None:
    """The codec a saved Vamana index's manifest params describe, or
    None for an uncompressed index."""
    from scalablevectorsearch_spark.operators.leanvec import LeanVecCodec
    from scalablevectorsearch_spark.operators.lvq import LVQCodec
    from scalablevectorsearch_spark.operators.sq import SQCodec

    # LeanVec first: its manifest also carries its LVQ primary's keys
    for cls in (LeanVecCodec, LVQCodec, SQCodec):
        codec = cls.from_manifest(p)
        if codec is not None:
            return codec
    return None


def _rerank_plan(codec: Codec, k: int, k_reorder: int | None, rerank_source):
    """(candidate width, re-rank source or None when not re-ranking)."""
    if k_reorder is None or not codec.reranks:
        return k, None
    if k_reorder < k:
        raise ValueError(f"k_reorder={k_reorder} must be >= k={k}")
    if rerank_source is None:
        raise ValueError("k_reorder requires the table the codec re-ranks on")
    return k_reorder, rerank_source


def _fold_distances(
    Q: np.ndarray, B: np.ndarray, distance: str
) -> tuple[np.ndarray, np.ndarray | None]:
    """Row-wise distance of ``Q[i]`` to ``B[i]`` with the EXACT
    accumulation order of the Catalyst/DuckDB sequential fold
    (distances.distance_expr: acc = 0.0; acc = acc + f(x_i, y_i) over
    dims in order): vectorized across ROWS, sequential across DIMS, so
    every emitted double is bit-identical to the expression fold the
    oracles replay — the rerank could not be moved off Catalyst
    otherwise (a GEMM-shaped kernel differs in last-ulp accumulation).

    Returns ``(values, null_mask)``: null_mask is currently always None
    (kept in the signature so a distance whose SQL semantics demand SQL
    NULLs can flag rows); cosine maps zero-norm rows to similarity 0.0,
    the engine-wide pairwise_distances convention — the pre-r13 kernel
    divided through to inf/nan there, silently changing degenerate
    top-k order (ADVICE r12)."""
    n, d = Q.shape
    if distance == "l2":
        acc = np.zeros(n, dtype=np.float64)
        for i in range(d):
            diff = Q[:, i] - B[:, i]
            acc = acc + diff * diff
        return acc, None
    if distance == "ip":
        acc = np.zeros(n, dtype=np.float64)
        for i in range(d):
            acc = acc + Q[:, i] * B[:, i]
        return acc, None
    if distance == "cosine":
        num = np.zeros(n, dtype=np.float64)
        qq = np.zeros(n, dtype=np.float64)
        bb = np.zeros(n, dtype=np.float64)
        for i in range(d):
            x, y = Q[:, i], B[:, i]
            num = num + x * y
            qq = qq + x * x
            bb = bb + y * y
        denom = np.sqrt(qq) * np.sqrt(bb)
        # zero-norm vectors: similarity 0 — the engine-wide convention
        # (functions.distances.pairwise_distances; the reference rejects
        # zero norms upstream). The pre-r13 kernel divided through and
        # produced inf/nan here, silently perturbing degenerate top-k
        # order; the Catalyst ANSI fold it replaced would error instead.
        zero = denom == 0.0
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(zero, 0.0, num / denom)
        return out, None
    raise ValueError(f"unknown distance {distance!r}")


def _rerank_reconstruction(
    cands: DataFrame,
    recon: DataFrame,
    q: DataFrame | None,
    k: int,
    distance: str,
    round_to: int | None,
    decode=None,
    query_batch: tuple | None = None,
) -> DataFrame:
    """The one exact re-rank (every codec's ``finish`` and IVF's
    ``k_reorder``, common.h:156): broadcast the (qid, neighbor_id)
    pairs of ``cands`` against ``recon``'s ``(neighbor_id, __bv)`` rows
    (the base is scanned once, filtered by the broadcast side — the
    100 TB shape), recompute each pair's distance in a vectorized Arrow
    kernel whose fold order is bit-identical to the Catalyst/DuckDB
    expression fold (:func:`_fold_distances`), and rank the k best per
    query (``topk.rank_candidates``). The queries are ``query_batch``
    when the caller already collected them, else the (qid, vector)
    frame ``q``. Only the built-in distances re-rank: the fold has no
    custom kernel, and the executors do not share the driver's
    registry.

    The query batch ships via sc.broadcast like every scan kernel's:
    a Catalyst zip_with+aggregate fold after a second broadcast join
    measured 0.88s in ONE task for 50k pairs x 64 dims (r12).

    ``decode``: optional vectorized storage decoder applied to the
    recon rows ((n, w) storage -> (n, d) vectors, elementwise-identical
    to the Catalyst reconstruction it replaces) — lets the scan read
    PACKED codes instead of evaluating the decompress expression chain
    per joined row."""
    import pyarrow as pa

    if distance not in ("l2", "ip", "cosine"):
        raise ValueError(
            f"k_reorder re-ranks with a built-in distance (l2, ip, cosine), not {distance!r}"
        )
    pairs = cands.select("qid", "neighbor_id")
    joined = recon.join(F.broadcast(pairs), "neighbor_id").select(
        "qid", "neighbor_id", "__bv"
    )
    qids, Q = collect_queries(q) if query_batch is None else query_batch
    qids, Q = np.asarray(qids, dtype=np.int64), np.asarray(Q, dtype=np.float64)
    if len(qids) == 0:
        # an empty batch returns an empty frame, as the old Catalyst
        # join path did
        return recon.sparkSession.createDataFrame(
            [], "qid long, neighbor_id long, distance double, rank long"
        )
    sc = recon.sparkSession.sparkContext
    bc = sc.broadcast((qids, Q))
    scale = None if round_to is None else float(10**round_to)

    def fn(batches):
        bqids, bQ = bc.value
        pos = {int(x): i for i, x in enumerate(bqids)}
        d_dim = bQ.shape[1]
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            rqid = rb.column(names.index("qid")).to_numpy(zero_copy_only=False)
            rnid = rb.column(names.index("neighbor_id")).to_numpy(
                zero_copy_only=False
            )
            # a ragged or NULL reconstruction row raises rather than
            # silently misaligning every following row
            B = _kernel_matrix(rb.column(names.index("__bv")), rb.num_rows, d_dim, decode)
            qi = np.asarray([pos[int(x)] for x in rqid], dtype=np.int64)
            dist, nulls = _fold_distances(bQ[qi], B, distance)
            if scale is not None:
                dist = np.floor(dist * scale + 0.5) / scale
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(rqid.astype(np.int64), type=pa.int64()),
                    pa.array(rnid.astype(np.int64), type=pa.int64()),
                    pa.array(dist, type=pa.float64(), mask=nulls),
                ],
                names=["qid", "neighbor_id", "distance"],
            )

    exact = joined.mapInArrow(fn, "qid long, neighbor_id long, distance double")
    return rank_candidates(exact, len(qids), k, is_similarity(distance))


def codec_knn(
    codec: Codec, base: DataFrame, queries: DataFrame, k: int, id_col: str = "id",
    vec_col: str = "vector", qid_col: str = "qid", qvec_col: str | None = None,
    round_to: int | None = 4, k_reorder: int | None = None,
    base_compressed: bool = False, rerank_source: DataFrame | None = None,
) -> DataFrame:
    """Exact k-NN over codec storage: one ``flat_knn`` scan of
    ``codec.store(base)`` with the kernel-side ``decode``, then
    ``codec.finish``. Returns (qid, rank, neighbor_id, distance).

    ``base_compressed=True``: ``base`` already holds the codec's stored
    form (SQ's TINYINT table, LVQ's ``lvq_*`` storage columns, LeanVec's
    persisted projection), so the scan reads the small table instead of
    encoding floats in-plan — the point of compressed storage at 100 TB.

    ``k_reorder`` (codecs that re-rank; ignored by the others): the scan
    keeps the top ``k_reorder`` candidates and ``finish`` re-ranks them
    exactly on ``rerank_source`` (LVQ's two-level reconstruction of the
    ``lvq_*`` table, LeanVec's full-dimension vectors) down to ``k``;
    the emitted distance is the re-ranked one. A codec that scans with
    the full-precision queries collects the batch once for both phases."""
    from scalablevectorsearch_spark.operators.flat import flat_knn

    full = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col or vec_col).alias("vector"))
    q = codec.query(full)
    k_cand, source = _rerank_plan(codec, k, k_reorder, rerank_source)
    batch = collect_queries(full) if source is not None and q is full else None
    cands = flat_knn(
        codec.store(base, id_col, vec_col, base_compressed), q, k=k_cand,
        distance=codec.scan_distance, id_col=id_col, vec_col=vec_col, qvec_col="vector",
        round_to=round_to, decode=codec.decode, query_batch=batch,
    )
    return codec.finish(cands, full, k, round_to, source, id_col, vec_col, batch)


def codec_vamana_build(
    codec: Codec, base: DataFrame, vamana_params=None, n_shards: int = 8,
    id_col: str = "id", vec_col: str = "vector", base_compressed: bool = False,
    **build_kw,
):
    """Build a Vamana graph over codec storage: the index layout holds
    ``codec.store(base)`` rows and every kernel decodes them at entry
    (``vec_decode`` = ``codec.decode``); the graph runs in
    ``codec.scan_distance``. ``base_compressed`` as in
    :func:`codec_knn`. Extra kwargs (shard_by/closure_bp/...) pass
    through to ``vamana_build``; kmeans sharding over packed rows trains
    the shard model on ``codec.unpacked()`` rows, the geometry the
    decoded rows live in, and the stamp decodes the packed ones.

    LVQ's ``packed=True`` (its default) keeps the PACKED rows
    ([lo, step, code bytes] — 0.5-1 byte/component) in the layout;
    ``packed=False`` materializes the primary reconstruction instead
    (required for dynamic mutation workloads). Distances are identical
    either way (the decode is bit-exact)."""
    from scalablevectorsearch_spark.operators.vamana import vamana_build

    kmeans = build_kw.get("shard_by") == "kmeans" and build_kw.get("shard_model") is None
    if kmeans and codec.decode is not None:
        from scalablevectorsearch_spark.operators.kmeans import train_kmeans

        build_kw["shard_model"] = train_kmeans(
            codec.unpacked().store(base, id_col, vec_col, base_compressed),
            n_shards, build_kw.pop("kmeans_iters", 2), id_col, vec_col,
        )
    idx = vamana_build(
        codec.store(base, id_col, vec_col, base_compressed), vamana_params,
        n_shards=n_shards, distance=codec.scan_distance, id_col=id_col,
        vec_col=vec_col, vec_decode=codec.decode, **build_kw,
    )
    idx.codec = codec
    return idx


def codec_vamana_search(
    index, queries: DataFrame, k: int, qid_col: str = "qid", qvec_col: str = "vector",
    round_to: int | None = 4, k_reorder: int | None = None,
    rerank_source: DataFrame | None = None, vec_col: str = "vector", **search_kw,
) -> DataFrame:
    """Graph search over the index's codec (uncompressed when
    ``index.codec`` is None), then ``codec.finish``. ``k_reorder`` and
    ``rerank_source`` as in :func:`codec_knn`; ``vec_col`` names the
    re-rank source's vector column. With an exhaustive window the
    result EQUALS :func:`codec_knn`'s — the metamorphic gates. Routing
    kwargs (n_probes/epsilon_bp/router/...) pass through to
    ``vamana_search``."""
    from scalablevectorsearch_spark.operators.vamana import vamana_search

    codec = index.codec or Codec(index.distance)
    full = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("vector"))
    k_cand, source = _rerank_plan(codec, k, k_reorder, rerank_source)
    cands = vamana_search(
        index, codec.query(full), k_cand, qid_col="qid", qvec_col="vector",
        round_to=round_to, **search_kw,
    )
    return codec.finish(cands, full, k, round_to, source, index.id_col, vec_col)
