"""§2.8 UNION ALL span sources: caption + table-cell + header spans
(ref src/core.py:429-448). Collection order parity vs the reference's
pandas flatten, fused/golden byte-equality, classify exemption, and
plain-schema degradation."""

import pandas as pd
import pytest

from docling_translate_spark.golden import extract_turn
from docling_translate_spark.operators.extract import (
    ExtractConfig,
    extract_turns_fused,
)
from docling_translate_spark.operators.segment import aux_span_texts
from docling_translate_spark.schema import RICH_TRANSCRIPT_SCHEMA

ROWS = [
    # body + caption + 2x2 table with headers
    ("c1", 0, "user", "Plain body paragraph.", None, None,
     "Figure 1: a caption", [["a1", "b1"], ["a2", " "]], ["colA", "colB"]),
    # empty body, caption only (PictureItem analog)
    ("c1", 1, "tool", "", None, None, "just a caption", None, None),
    # body only (plain shape semantics)
    ("c1", 2, "user", "Second paragraph body.", None, None, None, None, None),
    # table only, blank caption dropped
    ("c2", 0, "tool", None, None, None, "  ", [["x"]], ["h"]),
]
SCHEMA = RICH_TRANSCRIPT_SCHEMA


@pytest.fixture(scope="module")
def rich(spark):
    return spark.createDataFrame(
        [(c, t, r, x, tool, ts, cap, cel, hdr)
         for c, t, r, x, tool, ts, cap, cel, hdr in ROWS],
        SCHEMA,
    ).cache()


def test_aux_order_matches_reference_flatten():
    """The reference builds a pandas frame and pools
    df.values.flatten() then df.columns (src/core.py:440-448); our
    collection must enumerate cells and headers in that exact order."""
    cells = [["a1", "b1", "c1"], ["a2", "", "c2"]]
    headers = ["h1", "h2", "h3"]
    ref_df = pd.DataFrame(cells, columns=headers)
    expected = ["the cap"]
    expected += [v for v in ref_df.values.flatten()
                 if isinstance(v, str) and v.strip()]
    expected += [c for c in ref_df.columns if isinstance(c, str) and c.strip()]
    got = [t for _, t in aux_span_texts("the cap", cells, headers)]
    assert got == expected


def test_segment_rows_carry_aux_spans(spark, rich):
    """Aux spans follow the body spans in the reference's collection
    order, with offsets -1 and ``translatable`` True."""
    out = {(r["conv_id"], r["turn_idx"]): r for r in
           extract_turns_fused(rich).collect()}
    t0 = out[("c1", 0)]["spans"]
    kinds = [s["segment_type"] for s in t0]
    assert kinds[-6:] == ["caption", "table_cell", "table_cell", "table_cell",
                          "table_header", "table_header"]
    for aux in t0[-6:]:
        assert aux["start_pos"] == -1 and aux["end_pos"] == -1
        assert aux["line_number"] == -1
        assert aux["translatable"] is True
    assert out[("c1", 0)]["extracted_text"].split("\n\n")[-6:] == [
        "Figure 1: a caption", "a1", "b1", "a2", "colA", "colB"]
    # caption-only turn: just the caption span
    t1 = out[("c1", 1)]["spans"]
    assert len(t1) == 1 and t1[0]["segment_type"] == "caption"
    assert out[("c1", 1)]["extracted_text"] == "just a caption"
    # blank caption dropped, cell + header survive
    t3 = out[("c2", 0)]["spans"]
    assert [s["segment_type"] for s in t3] == ["table_cell", "table_header"]


def test_aux_exempt_from_classification(spark):
    """A table cell containing LaTeX or page chrome stays a mapped
    content span (the reference pools cells unconditionally)."""
    rows = [("c", 0, "user", "Body.", None, None, None,
             [["x^{2}", "Page 3 of 40"]], None)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = extract_turns_fused(df).collect()[0]
    kinds = [s["segment_type"] for s in out["spans"]]
    assert kinds.count("table_cell") == 2
    assert "formula" not in kinds and "boilerplate" not in kinds
    assert "x^{2}" in out["extracted_text"]
    assert "Page 3 of 40" in out["extracted_text"]


@pytest.mark.parametrize("cfg", [
    ExtractConfig(),
    ExtractConfig(sentence_split=True),
    ExtractConfig(engine="marker"),
], ids=["default", "sentence_split", "marker"])
def test_fused_equals_golden_with_aux(spark, rich, cfg):
    out = {(r["conv_id"], r["turn_idx"]): r for r in
           extract_turns_fused(rich, cfg).collect()}
    assert len(out) == len(ROWS)
    for cid, tix, _, text, tool, _, cap, cel, hdr in ROWS:
        exp = extract_turn(
            text, tool, engine=cfg.engine, sentence_split=cfg.sentence_split,
            caption=cap, cells=cel, headers=hdr,
        )
        got = out[(cid, tix)]
        assert got["extracted_text"] == exp["extracted_text"], (cid, tix)
        assert [tuple(s) for s in got["spans"]] == exp["spans"], (cid, tix)
        assert got["n_spans"] == exp["n_spans"], (cid, tix)
        assert got["boilerplate_ratio"] == exp["boilerplate_ratio"], (cid, tix)


def test_plain_schema_unchanged(spark, rich):
    """Dropping the aux columns must reproduce the pre-§2.8 behavior
    exactly (optional columns degrade, never break)."""
    plain = rich.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    out = {(r["conv_id"], r["turn_idx"]): r for r in
           extract_turns_fused(plain).collect()}
    assert out[("c1", 0)]["extracted_text"] == "Plain body paragraph."
    assert out[("c1", 1)]["n_spans"] == 0  # empty body, no aux → sentinel
    rich_out = {(r["conv_id"], r["turn_idx"]): r for r in
                extract_turns_fused(rich).collect()}
    assert rich_out[("c1", 2)].asDict() == out[("c1", 2)].asDict()
