"""Arrow-native full-table map kernels — the zero-copy decode path.

Every whole-table pass (k-means partial sums, cluster/shard stamping)
used to go through ``mapInPandas``, where Arrow -> pandas conversion
materializes one ``np.ndarray`` *object per row* for the vector column
before the kernel re-stacks them. ``mapInArrow`` hands the kernel the
raw ``pa.RecordBatch``: the list column's flattened values buffer IS the
``(n, d)`` matrix (``flat.py`` pioneered this for the scan kernel). This
module shares that decode with the stamping kernels so no full-table
pass pays per-row CPython costs.

Parity: the reference's scan/assign kernels read SIMD-contiguous data
slabs (``include/svs/core/data/simple.h``); the Arrow values buffer is
the Spark-native equivalent of that contiguous layout.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StructField, StructType


def batch_matrix(vec, dtype=np.float64) -> np.ndarray:
    """Decode an Arrow list / fixed-size-list column into an ``(n, w)``
    matrix straight off the flattened values buffer — no per-row Python
    objects. Rows must be non-null and of uniform width ``w`` (raises on
    ragged input, like ``flat.py``'s scan decode)."""
    import pyarrow.compute as pc

    n = len(vec)
    flat = vec.flatten().to_numpy(zero_copy_only=False)
    if n == 0:
        return np.empty((0, 0), dtype=dtype)
    if vec.null_count or len(flat) % n:
        raise ValueError(
            f"vector column must be non-null uniform width; "
            f"got {len(flat)} values for {n} rows"
        )
    w = len(flat) // n
    lens = pc.list_value_length(vec).to_numpy(zero_copy_only=False)
    if (lens != w).any():
        raise ValueError("ragged vector column cannot be reshaped: rows need a uniform width")
    return flat.reshape(n, w).astype(dtype, copy=False)


def binary_matrix(col) -> tuple[np.ndarray, int]:
    """Decode an Arrow binary column of uniform-width rows into
    ``(flat_uint8, width)`` straight off the values buffer — the packed
    analog of :func:`batch_matrix`. Raises on nulls or ragged rows."""
    import pyarrow as pa

    n = len(col)
    if col.null_count:
        raise ValueError("packed binary column must be non-null")
    if n == 0:
        return np.empty(0, dtype=np.uint8), 0
    off_dtype = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offsets = np.frombuffer(col.buffers()[1], dtype=off_dtype)[
        col.offset : col.offset + n + 1
    ]
    widths = np.diff(offsets)
    w = int(widths[0])
    if (widths != w).any():
        raise ValueError("ragged packed binary rows cannot be reshaped")
    data = np.frombuffer(col.buffers()[2], dtype=np.uint8)[
        int(offsets[0]) : int(offsets[-1])
    ]
    return data, w


def binary_rows(data: np.ndarray, n: int, w: int):
    """Build an Arrow binary column of ``n`` uniform ``w``-byte rows from
    one contiguous buffer — no per-row bytes objects."""
    import pyarrow as pa

    data = np.ascontiguousarray(data, dtype=np.uint8)
    if data.size != n * w:
        raise ValueError(f"buffer holds {data.size} bytes, expected {n}x{w}")
    offsets = np.arange(0, (n + 1) * w, w, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())],
    )


def list_rows(flat: np.ndarray, n: int, d: int):
    """Build an Arrow ``list<float64>`` column of ``n`` uniform ``d``-wide
    rows from one flat values array — no per-row list objects."""
    import pyarrow as pa

    flat = np.ascontiguousarray(flat, dtype=np.float64).reshape(-1)
    if flat.size != n * d:
        raise ValueError(f"values hold {flat.size} floats, expected {n}x{d}")
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(flat, type=pa.float64()))


def map_stamp(
    base: DataFrame,
    vec_col: str,
    out_col: str,
    stamp_fn: Callable[[np.ndarray], np.ndarray],
    vec_decode=None,
) -> DataFrame:
    """``base`` + an int32 ``out_col`` computed batch-wise from the
    decoded vector matrix: ``stamp_fn(V) -> (n,) int array``. One
    mapInArrow pass, zero shuffles, zero per-row objects."""
    import pyarrow as pa

    vi = base.columns.index(vec_col)
    names = base.columns + [out_col]

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = batch_matrix(rb.column(vi))
            if vec_decode is not None:
                V = vec_decode(V)
            stamped = pa.array(
                np.asarray(stamp_fn(V), dtype=np.int32), type=pa.int32()
            )
            yield pa.RecordBatch.from_arrays(
                list(rb.columns) + [stamped], names=names
            )

    schema = StructType(
        list(base.schema.fields) + [StructField(out_col, IntegerType())]
    )
    return base.mapInArrow(fn, schema)


def map_stamp_replicate(
    base: DataFrame,
    vec_col: str,
    out_col: str,
    expand_fn: Callable[[np.ndarray], tuple[np.ndarray, np.ndarray]],
    vec_decode=None,
) -> DataFrame:
    """Replicating variant (SPANN closure assignment): ``expand_fn(V) ->
    (row_idx, values)`` emits each input row once per assignment —
    output rows are ``rb.take(row_idx)`` plus ``out_col=values``."""
    import pyarrow as pa

    vi = base.columns.index(vec_col)
    names = base.columns + [out_col]

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = batch_matrix(rb.column(vi))
            if vec_decode is not None:
                V = vec_decode(V)
            rows, vals = expand_fn(V)
            out = rb.take(pa.array(np.asarray(rows, dtype=np.int64)))
            stamped = pa.array(
                np.asarray(vals, dtype=np.int32), type=pa.int32()
            )
            yield pa.RecordBatch.from_arrays(
                list(out.columns) + [stamped], names=names
            )

    schema = StructType(
        list(base.schema.fields) + [StructField(out_col, IntegerType())]
    )
    return base.mapInArrow(fn, schema)
