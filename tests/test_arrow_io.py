"""The buffer-level Arrow readers and writers agree with pyarrow's own
conversions: ``read_strings`` with ``to_pylist()``, the writers with
``pa.array``."""

import math

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from docling_translate_spark.arrow_io import (
    bool_array,
    float64_array,
    int32_array,
    primitive_array,
    read_strings,
    string_array,
)

ASCII = ["plain", "", "x = 1\n", "  ", "tail"]
MIXED = ["naïve", "", "日本語のテキスト", "emoji 😀 and 𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "plain", "\x00nul", "é"]
STRING_TYPES = [pa.string(), pa.large_string()]


def _sliced(values, type, offset, length=None):
    """``values`` behind ``offset`` leading junk slots, sliced back off, so
    the result's buffers start before its first value."""
    junk = ["junk", None, "ünïcode junk"] * 4
    return pa.array(junk[:offset] + values, type).slice(offset, length)


@pytest.mark.parametrize("type", STRING_TYPES, ids=str)
@pytest.mark.parametrize(
    "values",
    [
        ASCII,
        MIXED,
        [None, "", None, "a", ""],
        [None, None, None],
        ["", "", ""],
        [None, "naïve", None, "𝔘", ""],
    ],
    ids=["ascii", "mixed", "nulls_and_empty", "all_null", "all_empty", "mixed_nulls"],
)
def test_read_strings_matches_to_pylist(values, type):
    arr = pa.array(values, type)
    assert read_strings(arr) == arr.to_pylist() == values


@pytest.mark.parametrize("type", STRING_TYPES, ids=str)
@pytest.mark.parametrize("offset", [1, 3, 8, 11])
def test_read_strings_sliced_arrays(type, offset):
    values = [None, *MIXED, None, *ASCII]
    arr = _sliced(values, type, offset)
    assert arr.offset == offset
    assert read_strings(arr) == arr.to_pylist() == values
    # a slice whose value range is all ASCII, cut out of a mixed array
    inner = pa.array(MIXED + ASCII + MIXED, type).slice(len(MIXED), len(ASCII))
    assert read_strings(inner) == ASCII


@pytest.mark.parametrize("type", STRING_TYPES, ids=str)
def test_read_strings_zero_length(type):
    assert read_strings(pa.array([], type)) == []
    assert read_strings(_sliced(MIXED, type, 5, 0)) == []


def test_read_strings_ascii_batch_next_to_mixed_batch():
    """Each batch of one table decides its own decode path."""
    table = pa.Table.from_batches(
        [
            pa.record_batch([pa.array(v, pa.string())], names=["text"])
            for v in (ASCII, MIXED, [None, *ASCII])
        ]
    )
    for rb in table.to_batches():
        assert read_strings(rb.column("text")) == rb.column("text").to_pylist()


def test_read_strings_other_types_use_to_pylist():
    cells = pa.array([[["a", None]], None, [], [["é"]]])
    assert read_strings(cells) == cells.to_pylist()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.one_of(st.none(), st.text(max_size=12)), max_size=40),
    st.integers(0, 12),
    st.booleans(),
)
def test_read_strings_property(values, offset, large):
    type = pa.large_string() if large else pa.string()
    arr = _sliced(values, type, offset)
    assert read_strings(arr) == values


@pytest.mark.parametrize(
    "values",
    [ASCII, MIXED, [], [""], ["", "", "é"], ["𝔘𝔫𝔦"] * 9],
    ids=["ascii", "mixed", "empty", "one_empty", "empties", "non_bmp"],
)
def test_string_array_matches_pa_array(values):
    got = string_array(values)
    got.validate(full=True)
    assert got.equals(pa.array(values, pa.string()))


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(max_size=12), max_size=40))
def test_string_array_property(values):
    got = string_array(values)
    got.validate(full=True)
    assert got.equals(pa.array(values, pa.string()))


@pytest.mark.parametrize("n", [0, 1, 7, 8, 9, 30])
def test_fixed_width_writers_match_pa_array(n):
    ints = [(-1) ** i * i * 7919 for i in range(n)]
    floats = [i / 3 - 2.5 for i in range(n)]
    bools = [i % 3 == 0 for i in range(n)]
    for got, want in [
        (int32_array(ints), pa.array(ints, pa.int32())),
        (float64_array(floats), pa.array(floats, pa.float64())),
        (bool_array(bools), pa.array(bools, pa.bool_())),
    ]:
        got.validate(full=True)
        assert got.equals(want)
    # int32 bounds and float specials survive the buffer round trip
    assert int32_array([2**31 - 1, -(2**31)]).to_pylist() == [2**31 - 1, -(2**31)]
    special = float64_array([math.inf, -0.0, 1e-300]).to_pylist()
    assert special == [math.inf, -0.0, 1e-300] and math.copysign(1, special[1]) < 0


def test_primitive_array_over_ndarrays():
    flat = np.arange(-5, 20, dtype=np.int64) * (2**40)
    assert primitive_array(flat, pa.int64()).equals(pa.array(flat.tolist(), pa.int64()))
    offsets = np.arange(0, 26, 5, dtype=np.int32)
    lists = pa.ListArray.from_arrays(
        primitive_array(offsets, pa.int32()), primitive_array(flat, pa.int64())
    )
    assert lists.to_pylist() == [flat[i : i + 5].tolist() for i in range(0, 25, 5)]
    assert len(primitive_array(np.zeros(0, np.int64), pa.int64())) == 0
