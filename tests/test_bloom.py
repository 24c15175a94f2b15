"""Portable Bloom filter: from-spec bit parity against a pure-Python
replay of the md5-slice formula, the no-false-negatives contract,
false-positive-rate envelope, merge = direct, NULL conventions, group
keys, and the zero-shuffle probe plan pin."""

import contextlib
import hashlib
import io

import pytest

from pyspark.sql import functions as F

from docling_translate_spark.operators.sketch import (
    BLOOM_BITS,
    BLOOM_K,
    BLOOM_WORD_BITS,
    bloom_build,
    bloom_merge,
    bloom_probe,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _py_positions(v: str, k: int = BLOOM_K):
    h = hashlib.md5(v.encode()).hexdigest()
    return [int(h[5 * i : 5 * i + 5], 16) for i in range(k)]


def _py_words(values, k: int = BLOOM_K):
    """Reference replay of the documented sparse-bitmap formula (word
    split derived from BLOOM_WORD_BITS, same single source as the
    operator and the oracle)."""
    words: dict[int, int] = {}
    for v in values:
        if v is None:
            continue
        for pos in _py_positions(v, k):
            w, b = pos // BLOOM_WORD_BITS, pos % BLOOM_WORD_BITS
            words[w] = words.get(w, 0) | (1 << b)
    return words


def _py_member(words, v: str, k: int = BLOOM_K) -> int:
    return int(
        all(
            words.get(pos // BLOOM_WORD_BITS, 0)
            & (1 << (pos % BLOOM_WORD_BITS))
            for pos in _py_positions(v, k)
        )
    )


VALUES = [f"value {i}" for i in range(300)] + [None, "value 0"]


def test_build_matches_pure_python(spark):
    df = spark.createDataFrame([(v,) for v in VALUES], "v string")
    got = {
        r["word"]: r["mask"] for r in bloom_build(df, "v").collect()
    }
    assert got == _py_words(VALUES)
    assert all(0 <= w < BLOOM_BITS // BLOOM_WORD_BITS for w in got)
    assert all(0 < m < 2**BLOOM_WORD_BITS for m in got.values())


def test_no_false_negatives_and_null_probe(spark):
    df = spark.createDataFrame([(v,) for v in VALUES], "v string")
    flt = bloom_build(df, "v")
    probed = {
        r["v"]: r["bloom_maybe"]
        for r in bloom_probe(df, flt, "v").collect()
    }
    for v in VALUES:
        if v is not None:
            assert probed[v] == 1  # inserted ⇒ always maybe
    assert probed[None] == 0


def test_probe_matches_pure_python_including_false_positives(spark):
    build_vals = [f"in {i}" for i in range(200)]
    probe_vals = [f"out {i}" for i in range(2000)]
    words = _py_words(build_vals)
    flt = bloom_build(
        spark.createDataFrame([(v,) for v in build_vals], "v string"), "v"
    )
    got = {
        r["v"]: r["bloom_maybe"]
        for r in bloom_probe(
            spark.createDataFrame([(v,) for v in probe_vals], "v string"),
            flt,
            "v",
        ).collect()
    }
    expected = {v: _py_member(words, v) for v in probe_vals}
    assert got == expected
    # fpr envelope: k=4, n=200, m=2^20 ⇒ expected fpr ~1e-13; any hit
    # here would mean the formula drifted, not bad luck
    assert sum(expected.values()) == 0


def test_merge_equals_direct_build(spark):
    a = spark.createDataFrame([(f"a {i}",) for i in range(100)], "v string")
    b = spark.createDataFrame([(f"b {i}",) for i in range(100)], "v string")
    merged = {
        r["word"]: r["mask"]
        for r in bloom_merge(bloom_build(a, "v"), bloom_build(b, "v")).collect()
    }
    direct = {
        r["word"]: r["mask"]
        for r in bloom_build(a.unionByName(b), "v").collect()
    }
    assert merged == direct


def test_group_keys_partition_the_filter(spark):
    df = spark.createDataFrame(
        [("g1", "x"), ("g1", "y"), ("g2", "z"), (None, "n")],
        "g string, v string",
    )
    flt = bloom_build(df, "v", ["g"])
    probe = spark.createDataFrame(
        [("g1", "x"), ("g2", "x"), ("g2", "z"), (None, "n"), (None, "x")],
        "g string, v string",
    )
    got = {
        (r["g"], r["v"]): r["bloom_maybe"]
        for r in bloom_probe(probe, flt, "v", ["g"]).collect()
    }
    assert got[("g1", "x")] == 1
    assert got[("g2", "z")] == 1
    assert got[("g2", "x")] == 0  # x was inserted under g1 only
    # NULL group is a real group: inserted ⇒ probes 1 (null-safe join,
    # the no-false-negatives contract), not inserted ⇒ 0
    assert got[(None, "n")] == 1
    assert got[(None, "x")] == 0


def test_k_mismatch_rejected_and_merge_guard(spark):
    df = spark.createDataFrame([("a",), ("b",)], "v string")
    f2 = bloom_build(df, "v", k=2)
    f4 = bloom_build(df, "v", k=4)
    with pytest.raises(ValueError, match="built with k=2"):
        bloom_probe(df, f2, "v", k=4)
    with pytest.raises(ValueError, match="different k"):
        bloom_merge(f2, f4)
    # merge re-stamps k: the merged filter still rejects a bad probe
    merged = bloom_merge(f4, bloom_build(df, "v", k=4))
    with pytest.raises(ValueError, match="built with k=4"):
        bloom_probe(df, merged, "v", k=2)
    assert bloom_probe(df, merged, "v", k=4).count() == 2


def test_probe_plan_is_map_side_only(spark):
    """The probe decorates candidates via k broadcast joins with NO
    exchange on the candidate lineage. The filter is materialized to a
    local relation first, so the build side contributes no exchanges
    of its own — any shuffle Exchange left in the plan would sit on
    the candidate side, making zero-shuffle-plan-wide a REAL pin of
    the map-side-only property (the first version of this test looped
    over lines with a vacuous plan-wide assert)."""
    import re

    df = spark.createDataFrame([(f"v {i}",) for i in range(50)], "v string")
    flt = spark.createDataFrame(
        bloom_build(df, "v").collect(), "word long, mask long"
    )
    plan = _plan(bloom_probe(df, flt, "v"))
    # formatted explain lists each node twice (tree + numbered detail)
    assert plan.count("BroadcastHashJoin") == 2 * BLOOM_K
    assert "SortMergeJoin" not in plan
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan
    # \bExchange\b does not match BroadcastExchange (no boundary after
    # the 't'), so this counts shuffle exchanges only
    assert re.findall(r"\bExchange\b", plan) == []
    assert "hashpartitioning" not in plan
