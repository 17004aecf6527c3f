"""Zero-copy Arrow-batch kernels — the engine's fastest data path.

pandas UDFs pay per-row costs for Binary/String columns (each cell becomes a
Python bytes/str object). These helpers read the Arrow buffers directly:
an ASCII string column becomes one padded (n, L) uint8 matrix, and numpy
matrices go back as string or binary arrays — no per-row objects anywhere
between the JVM and the numpy kernels. Used by pipeline.scoring via
DataFrame.mapInArrow.

This is the distributed analogue of the reference's SIMD width escalation
(nibble LOOKUP → SSE → AVX2, python_hexhamming.h:243-259/489-510): the
Arrow record batch is the register, widened to the whole column.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def _offsets_and_data(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    buffers = arr.buffers()
    off_dtype = np.int64 if pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type) else np.int32
    offs = np.frombuffer(buffers[1], dtype=off_dtype)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(buffers[2], dtype=np.uint8)
    return offs.astype(np.int64), data


def string_array_from_matrix(mat: np.ndarray, lens: np.ndarray) -> pa.Array:
    """Build a pa.utf8 array from a zero-padded (n, L) uint8 matrix and
    per-row lengths — one boolean-mask gather, no per-row Python."""
    n, L = mat.shape
    offs = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offs[1:])
    mask = np.arange(L)[None, :] < lens[:, None]
    payload = mat[mask]  # row-major order ⇒ concatenated rows
    return pa.Array.from_buffers(
        pa.utf8(), n, [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(payload.tobytes())]
    )


def fixed_string_array(mat: np.ndarray) -> pa.Array:
    """pa.utf8 array from an (n, L) uint8 matrix where every row is exactly
    L bytes (e.g. hex signatures)."""
    n, L = mat.shape
    offs = (np.arange(n + 1, dtype=np.int32) * L).tobytes()
    return pa.Array.from_buffers(
        pa.utf8(), n, [None, pa.py_buffer(offs), pa.py_buffer(np.ascontiguousarray(mat).tobytes())]
    )


def fixed_binary_array(mat: np.ndarray) -> pa.Array:
    """pa.binary array from an (n, w) uint8 matrix (one value per row)."""
    n, w = mat.shape
    offs = (np.arange(n + 1, dtype=np.int32) * w).tobytes()
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offs), pa.py_buffer(np.ascontiguousarray(mat).tobytes())]
    )


def ascii_padded_matrix(arr: pa.Array, max_len: int) -> np.ndarray:
    """(n, max_len) uint8 matrix of an ASCII string column, zero-padded /
    truncated to max_len. One vectorized gather — no per-row Python."""
    offs, data = _offsets_and_data(arr)
    n = len(offs) - 1
    out_idx = np.arange(max_len, dtype=np.int64)
    lens = np.minimum(np.diff(offs), max_len)
    idx = offs[:-1, None] + out_idx[None, :]
    mask = out_idx[None, :] < lens[:, None]
    idx = np.minimum(idx, max(len(data) - 1, 0))
    if len(data) == 0:
        return np.zeros((n, max_len), dtype=np.uint8)
    return np.where(mask, data[idx], 0).astype(np.uint8)
