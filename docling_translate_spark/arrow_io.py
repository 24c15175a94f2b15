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

Readers take flat arrays at any slice offset; :func:`read_matrix` takes
a ``list<number>`` array of equal-length vectors. Writers build arrays
with no nulls, which is all the kernels emit. Every Python kernel of the
package crosses the Arrow boundary through this module only.
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


def valid_rows(*arrays: pa.Array) -> np.ndarray:
    """A bool mask, true where every one of the equal-length ``arrays``
    holds a value, from their validity bitmaps."""
    keep = np.ones(len(arrays[0]), np.bool_)
    for arr in arrays:
        keep[_null_positions(arr)] = False
    return keep


def read_numbers(arr: pa.Array) -> np.ndarray:
    """A read-only numpy view of a flat integer or floating-point array's
    values buffer, at the array's offset. Null slots hold whatever the
    buffer holds there."""
    t = arr.type
    kind = "f" if pa.types.is_floating(t) else "i" if pa.types.is_signed_integer(t) else "u"
    dtype = np.dtype(f"{kind}{t.bit_width // 8}")
    if not len(arr):
        return np.empty(0, dtype)
    return np.frombuffer(arr.buffers()[1], dtype, len(arr), arr.offset * dtype.itemsize)


def read_matrix(ids: pa.Array, vecs: pa.Array, dtype) -> tuple[np.ndarray, np.ndarray]:
    """int64 ids and the ``(n, dim)`` ``dtype`` matrix of a
    ``list<number>`` array, read from its offsets and values buffers. A
    null id or vector, vectors of unequal length, or an id count that is
    not the vector count raise ``ValueError``: each would score some
    vector under another vector's id. A null element reads as NaN."""
    n, nulls = len(vecs), vecs.null_count + ids.null_count
    if nulls or len(ids) != n:
        raise ValueError(f"{len(ids)} ids for {n} vectors, {nulls} nulls")
    if not n:
        return np.empty(0, np.int64), np.empty((0, 0), dtype)
    odt = np.dtype(np.int64 if pa.types.is_large_list(vecs.type) else np.int32)
    lengths = np.diff(np.frombuffer(vecs.buffers()[1], odt, n + 1, vecs.offset * odt.itemsize))
    dim = int(lengths[0])
    if (lengths != dim).any():
        raise ValueError(f"vector lengths {sorted(set(lengths.tolist()))} differ")
    values = vecs.flatten()
    flat = read_numbers(values)
    if values.null_count:
        flat = flat.astype(np.float64)
        flat[_null_positions(values)] = np.nan
    return (
        read_numbers(ids).astype(np.int64, copy=False),
        flat.astype(dtype, copy=False).reshape(n, dim),
    )


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
