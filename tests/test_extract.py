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
from docling_translate_spark.schema import (
    RICH_TRANSCRIPT_SCHEMA,
    TRANSCRIPT_SCHEMA,
)
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


# null, blank and NUL-byte bodies whose aux sources are absent or blank:
# every one must come out as a row with no spans
_BLANK_BODIES = [None, "", "   \n ", "\t", "bin\x00ary", "\x00"]
_BLANK_AUX = [(None, None, None), ("  ", [[None, " "]], [None, ""])]


def _rich_rows():
    """gen_rows turns with caption/cells/headers (nulls inside and out)
    plus a separate conversation of blank turns, as RICH_TRANSCRIPT rows."""
    rows = []
    for i, (cid, tix, role, text, tool, ts) in enumerate(gen_rows(20, 5)):
        cap = (None, "Figure %d: chart" % i, " ")[i % 3]
        cells = (None, [["a%d" % i, None], None, ["", "b"]], [[None]])[i % 3]
        heads = ([None, "h%d" % i], None, ["col"])[i % 3]
        rows.append((cid, tix, role, text, tool, ts, cap, cells, heads))
    for i in range(14):
        cap, cells, heads = _BLANK_AUX[i % 2]
        body = _BLANK_BODIES[i % len(_BLANK_BODIES)]
        rows.append(("blank", i, "user", body, None, None, cap, cells, heads))
    return rows


def test_fused_invariant_to_batch_size_and_partitioning(spark):
    """The fused output is the same bytes at 7-row Arrow batches over five
    partitions (one holding only blank turns, so whole batches carry no
    span and no map key) and at the default batch size over one
    partition, and both equal golden.extract_turn turn by turn."""
    rows = _rich_rows()
    df = spark.createDataFrame(rows, RICH_TRANSCRIPT_SCHEMA)
    blank = df["conv_id"] == "blank"
    cfg = ExtractConfig(engine="marker")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        spread = df.filter(~blank).repartition(4).unionByName(
            df.filter(blank).repartition(1)
        )
        assert spread.rdd.getNumPartitions() == 5
        small = extract_turns_fused(spread, cfg).cache()
        small_rows = small.collect()
    finally:
        spark.conf.set(conf, prev)
    one = extract_turns_fused(df.repartition(1), cfg).cache()
    one_rows = one.collect()
    assert small.exceptAll(one).count() == 0
    assert one.exceptAll(small).count() == 0

    golden = {
        (cid, tix): extract_turn(
            text, tool, engine=cfg.engine, caption=cap, cells=cel, headers=hdr
        )
        for cid, tix, _, text, tool, _, cap, cel, hdr in rows
    }
    for out in (small_rows, one_rows):
        assert len(out) == len(rows)
        _assert_matches(out, golden, "batch-size")
        for r in out:
            exp = golden[(r["conv_id"], r["turn_idx"])]
            assert r["boilerplate_ratio"] == exp["boilerplate_ratio"], r
            if r["conv_id"] == "blank":
                assert r["spans"] == [] and r["n_spans"] == 0, r
                assert r["boilerplate_ratio"] == 0.0, r
    small.unpersist()
    one.unpersist()


@pytest.mark.parametrize("sentence_split", [False, True])
def test_fused_matches_golden_with_large_var_types(spark, sentence_split):
    """With ``useLargeVarTypes`` the kernel reads ``large_string`` text,
    tool and caption columns (and large-string cells/headers) and its
    output is still byte-identical to golden.extract_turn."""
    rows = _rich_rows()
    df = spark.createDataFrame(rows, RICH_TRANSCRIPT_SCHEMA)
    cfg = ExtractConfig(engine="marker", sentence_split=sentence_split)

    def input_types(batches):
        import pyarrow as pa

        for rb in batches:
            yield pa.RecordBatch.from_pylist(
                [{"name": f.name, "type": str(f.type)} for f in rb.schema]
            )

    conf = "spark.sql.execution.arrow.useLargeVarTypes"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        types = dict(
            df.select("text", "tool", "caption", "cells")
            .limit(1)
            .mapInArrow(input_types, "name string, type string")
            .collect()
        )
        out = extract_turns_fused(df.repartition(3), cfg).collect()
    finally:
        spark.conf.set(conf, prev)
    assert types["text"] == types["tool"] == types["caption"] == "large_string"
    assert types["cells"] == "list<element: list<element: large_string>>"

    golden = {
        (cid, tix): extract_turn(
            text,
            tool,
            engine=cfg.engine,
            sentence_split=sentence_split,
            caption=cap,
            cells=cel,
            headers=hdr,
        )
        for cid, tix, _, text, tool, _, cap, cel, hdr in rows
    }
    _assert_matches(out, golden, "large-var-types")
