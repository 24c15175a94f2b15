"""Arrow column readers and writers for the Python kernels, pandas-free.

pyarrow 16.1 imports pandas lazily on its Python-object paths:
``Array.to_numpy(zero_copy_only=False)``, ``pa.array`` of a list or of an
ndarray, integer ``to_numpy()`` and the ``pyarrow.compute`` calls that
take a Python scalar (``fill_null(x, 0)``). A worker's first such call
costs it about 0.11 s and 40 MB, the largest part of a rebuilt session's
set-up. These helpers go through the arrays' buffers instead: readers
view offsets and validity bitmaps with numpy and decode UTF-8 with
CPython, writers wrap ``array.array``, ``bytes`` or ndarray memory with
``pa.Array.from_buffers``. They call no ``pyarrow.compute`` either, whose
import costs a worker about 20 ms.

Readers take flat arrays at any slice offset. Writers build arrays with
no nulls, which is all the kernels emit.
"""

from __future__ import annotations

import array
from typing import Iterable, Sequence

import numpy as np
import pyarrow as pa


def _null_positions(arr: pa.Array) -> list[int]:
    """Indices of the null slots of ``arr``, from its validity bitmap."""
    if not arr.null_count:
        return []
    bits = np.unpackbits(np.frombuffer(arr.buffers()[0], np.uint8), bitorder="little")
    return np.flatnonzero(bits[arr.offset : arr.offset + len(arr)] == 0).tolist()


def read_strings(arr: pa.Array) -> list:
    """``arr.to_pylist()``, pandas-free for a flat ``string`` or
    ``large_string`` array; other types (lists of strings among them) go
    to ``to_pylist()``, which stays pandas-free.

    The value range is copied out once. When it is all ASCII it is decoded
    once and sliced by byte offsets; otherwise each value is decoded on
    its own, since byte and character offsets then differ."""
    if not (pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type)):
        return arr.to_pylist()
    n = len(arr)
    if not n:
        return []
    _, offsets_buf, data_buf = arr.buffers()
    dtype = np.dtype(np.int64 if pa.types.is_large_string(arr.type) else np.int32)
    offs = np.frombuffer(offsets_buf, dtype, n + 1, arr.offset * dtype.itemsize)
    lo, hi = int(offs[0]), int(offs[-1])
    data = bytes(memoryview(data_buf)[lo:hi]) if hi > lo else b""
    bounds = (offs - lo).tolist()
    if data.isascii():
        whole = data.decode("ascii")
        out = [whole[a:b] for a, b in zip(bounds, bounds[1:])]
    else:
        out = [data[a:b].decode() for a, b in zip(bounds, bounds[1:])]
    for i in _null_positions(arr):
        out[i] = None
    return out


def primitive_array(data, type: pa.DataType) -> pa.Array:
    """A null-free fixed-width array over ``data``'s memory: an
    ``array.array``, ``bytes`` or C-contiguous ndarray whose items have
    ``type``'s width and the host's byte order."""
    buf = pa.py_buffer(data)
    return pa.Array.from_buffers(type, buf.size * 8 // type.bit_width, [None, buf])


def int32_array(values: Iterable[int]) -> pa.Array:
    return primitive_array(array.array("i", values), pa.int32())


def float64_array(values: Iterable[float]) -> pa.Array:
    return primitive_array(array.array("d", values), pa.float64())


def bool_array(values: Sequence[bool]) -> pa.Array:
    """Arrow booleans are bit-packed, least significant bit first."""
    bits = np.packbits(np.frombuffer(bytes(values), np.bool_), bitorder="little")
    return pa.Array.from_buffers(pa.bool_(), len(values), [None, pa.py_buffer(bits)])


def string_array(values: Sequence[str]) -> pa.Array:
    """A null-free ``string`` array (int32 offsets) of ``values``.

    An all-ASCII batch is joined and encoded once, and its character
    counts are its byte counts; otherwise each value is encoded."""
    n = len(values)
    joined = "".join(values)
    if joined.isascii():
        data, sized = joined.encode("ascii"), values
    else:
        sized = [v.encode() for v in values]
        data = b"".join(sized)
    if len(data) > np.iinfo(np.int32).max:
        raise OverflowError(f"{len(data)} bytes of strings do not fit int32 offsets")
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(np.fromiter(map(len, sized), np.int32, n), out=offsets[1:])
    return pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )
