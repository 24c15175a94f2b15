"""End-to-end pipeline equality: Spark output == driver-side golden oracle,
byte-for-byte, under stable (conv_id, turn_idx) ordering — the north rule's
per-turn text-equality invariant."""

import math

import pytest

from docling_translate_spark.golden import extract_turn
from docling_translate_spark.operators.extract import (
    ExtractConfig,
    extract_turns_fused,
)
from docling_translate_spark.schema import TRANSCRIPT_SCHEMA
from docling_translate_spark.synth import gen_rows, transcripts_df


@pytest.fixture(scope="module")
def small_transcripts(spark):
    return spark.createDataFrame(gen_rows(25, 6), TRANSCRIPT_SCHEMA).cache()


def _golden_map(rows, engine="identity", sentence_split=False):
    return {
        (r[0], r[1]): extract_turn(
            r[3], r[4] or None, engine=engine, sentence_split=sentence_split
        )
        for r in rows
    }


def _assert_matches(result_rows, golden, engine_name):
    assert len(result_rows) == len(golden)
    for row in result_rows:
        exp = golden[(row["conv_id"], row["turn_idx"])]
        key = (row["conv_id"], row["turn_idx"], engine_name)
        assert row["extracted_text"] == exp["extracted_text"], key
        got_spans = [tuple(s) for s in row["spans"]]
        assert got_spans == exp["spans"], key
        assert row["n_spans"] == exp["n_spans"], key
        assert math.isclose(
            row["boilerplate_ratio"], exp["boilerplate_ratio"], abs_tol=1e-12
        ), key


def test_extract_matches_golden_identity(spark, small_transcripts):
    """Default (unordered) fused output is byte-identical to the golden
    oracle: every turn exactly once."""
    rows = small_transcripts.collect()
    golden = _golden_map(rows)
    out = extract_turns_fused(small_transcripts, ExtractConfig()).collect()
    assert {(r["conv_id"], r["turn_idx"]) for r in out} == set(golden)
    _assert_matches(out, golden, "identity")


def test_extract_matches_golden_marker(spark, small_transcripts):
    """Marker engine proves join-back multiplicity & ordering: every content
    span must surface exactly once, wrapped, in reading order."""
    rows = small_transcripts.collect()
    golden = _golden_map(rows, engine="marker")
    out = extract_turns_fused(
        small_transcripts, ExtractConfig(engine="marker")
    ).collect()
    assert {(r["conv_id"], r["turn_idx"]) for r in out} == set(golden)
    _assert_matches(out, golden, "marker")


def test_fused_matches_relational(spark, small_transcripts):
    """``ordered`` fused output equals the unordered output put through a
    relational ``orderBy(conv_id, turn_idx)``, row for row, and both are
    byte-identical to the golden oracle."""
    rows = small_transcripts.collect()
    golden = _golden_map(rows)
    out = extract_turns_fused(
        small_transcripts, ExtractConfig(ordered=True)
    ).collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in out]
    assert keys == sorted(keys)
    _assert_matches(out, golden, "fused")
    sorted_rel = (
        extract_turns_fused(small_transcripts, ExtractConfig())
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert [r.asDict(recursive=True) for r in sorted_rel] == [
        r.asDict(recursive=True) for r in out
    ]


def test_fused_marker_engine(spark, small_transcripts):
    """Marker engine under ``ordered``: stable (conv_id, turn_idx)
    ascending and byte-identical to the golden oracle."""
    rows = small_transcripts.collect()
    golden = _golden_map(rows, engine="marker")
    out = extract_turns_fused(
        small_transcripts, ExtractConfig(engine="marker", ordered=True)
    ).collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in out]
    assert keys == sorted(keys)
    _assert_matches(out, golden, "fused-marker")


def test_fused_sentence_split(spark, small_transcripts):
    """Sentence-level map units: tokenize → dedup → map → ' ' rejoin,
    the reference's html path (core.py:428). Marker engine makes each
    sentence boundary visible."""
    rows = small_transcripts.collect()
    golden = _golden_map(rows, engine="marker", sentence_split=True)
    out = extract_turns_fused(
        small_transcripts,
        ExtractConfig(engine="marker", sentence_split=True, ordered=True),
    ).collect()
    _assert_matches(out, golden, "fused-sentences")


def test_distributed_generator_matches_local(spark):
    """transcripts_df (mapInPandas) == gen_rows (driver-side) rows."""
    got = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"], r["ts"])
        for r in transcripts_df(spark, 10, 4).collect()
    }
    exp = {(r[0], r[1]): (r[2], r[3], r[4], r[5]) for r in gen_rows(10, 4)}
    assert got == exp


def test_empty_and_binary_turns_survive(spark):
    data = [
        ("c1", 0, "user", "", "", None),
        ("c1", 1, "user", "   \n ", "", None),
        ("c1", 2, "user", "bin\x00ary", "", None),
        ("c1", 3, "user", "Real content here.", "", None),
    ]
    df = spark.createDataFrame(data, TRANSCRIPT_SCHEMA)
    out = {r["turn_idx"]: r for r in extract_turns_fused(df).collect()}
    assert len(out) == 4
    for i in (0, 1, 2):
        assert out[i]["extracted_text"] == ""
        assert out[i]["n_spans"] == 0
        assert out[i]["spans"] == []
    assert out[3]["extracted_text"] == "Real content here."
