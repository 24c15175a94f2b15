"""Property-based fuzzing with hypothesis: for ARBITRARY text, every
segmenter family must agree byte-for-byte with the reference's own
parser (the strongest invariant this engine claims), and structural
invariants must hold."""

import importlib.util
import os
import sys

import pytest
from hypothesis import given, settings, strategies as st

from docling_translate_spark.segmenters import (
    SEGMENTERS,
    segment_c_style,
    segment_markdown,
    segment_plaintext,
    segment_python,
    segment_shell,
)
from docling_translate_spark.sentences import split_sentences

REF_PATH = "/root/reference/src/text_parser.py"
_REF_FAMILIES = {
    "markdown": "_parse_markdown",
    "python": "_parse_python",
    "c_style": "_parse_c_style",
    "shell": "_parse_shell",
    "config": "_parse_config",
    "plaintext": "_parse_plaintext",
}


@pytest.fixture(scope="module")
def ref_parser():
    """The reference's own parser, loaded lazily: without the reference
    checkout only the reference-parity property skips."""
    if not os.path.isfile(REF_PATH):
        ref_root = os.path.dirname(os.path.dirname(REF_PATH))
        pytest.skip(f"reference checkout absent: {ref_root}")
    spec = importlib.util.spec_from_file_location("ref_text_parser_prop", REF_PATH)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["ref_text_parser_prop"] = mod
    spec.loader.exec_module(mod)
    return mod.TextFileParser()


# text alphabet biased toward structure characters that trigger the
# segmenter regexes
_ALPHA = st.sampled_from(
    list("ab .\n#\"'`~/*\\{}^&=!123-_()") + ["```", '"""', "'''", "//", "/*", "*/", "\n\n", "#!"]
)
_TEXT = st.lists(_ALPHA, max_size=60).map("".join)


@pytest.mark.parametrize("family", sorted(SEGMENTERS))
@settings(max_examples=150, deadline=None)
@given(text=_TEXT)
def test_segmenter_matches_reference_on_arbitrary_text(ref_parser, family, text):
    mine = SEGMENTERS[family](text)
    ref = [
        (s.text, s.start_pos, s.end_pos, s.translatable, s.segment_type, s.line_number)
        for s in getattr(ref_parser, _REF_FAMILIES[family])(text)
    ]
    assert mine == ref


@settings(max_examples=150, deadline=None)
@given(text=_TEXT)
def test_span_invariants(text):
    """Offsets are ordered and bounded; segment text is non-degenerate."""
    for fam in ("python", "c_style", "shell"):
        for seg_text, start, end, _, seg_type, _ in SEGMENTERS[fam](text):
            assert 0 <= start <= end <= len(text)
            if seg_type == "docstring":
                # reference design (text_parser.py:273-285): docstrings are
                # split per-line but every line carries the WHOLE docstring's
                # span, so the slice contains (not equals) the line text
                assert seg_text in text[start:end]
            else:
                # for other code-family segments the span slice IS the text
                assert text[start:end] == seg_text


@settings(max_examples=150, deadline=None)
@given(text=st.text(max_size=120))
def test_sentences_invariants(text):
    sents = split_sentences(text)
    # sentences are non-blank, verbatim substrings, in input order
    assert all(s.strip() == s and s for s in sents)
    cursor = 0
    for s in sents:
        idx = text.find(s, cursor)
        assert idx >= 0, (s, text)
        cursor = idx + len(s)


# --- §2.8 aux span sources: arbitrary captions/cells/headers ---

_CELL = st.one_of(
    st.none(),
    st.text(alphabet="ab \t\nxyz0·é", max_size=8),
)
_CELLS = st.one_of(
    st.none(),
    st.lists(st.one_of(st.none(), st.lists(_CELL, max_size=4)), max_size=4),
)
_HEADERS = st.one_of(st.none(), st.lists(_CELL, max_size=4))


# --- end-to-end extraction equivalence on adversarial payloads ---

_PAYLOAD = st.lists(_ALPHA, max_size=80).map("".join)
_TOOL = st.sampled_from([None, "python", "cpp", "bash", "json", "markdown"])
_TURN = st.tuples(_PAYLOAD, _TOOL, _CELL, _CELLS, _HEADERS)


@settings(max_examples=12, deadline=None)
@given(
    turns=st.lists(_TURN, min_size=1, max_size=6),
    engine=st.sampled_from(["identity", "marker"]),
    sentence_split=st.booleans(),
)
def test_extraction_plans_agree_on_arbitrary_payloads(
    spark, turns, engine, sentence_split
):
    """For ARBITRARY structured payloads and aux span sources: the
    zero-shuffle fused plan and the pure-Python golden oracle must agree
    byte-for-byte — the strongest end-to-end invariant of the engine."""
    from docling_translate_spark.golden import extract_turn
    from docling_translate_spark.operators.extract import (
        ExtractConfig,
        extract_turns_fused,
    )
    from docling_translate_spark.schema import RICH_TRANSCRIPT_SCHEMA

    rows = [
        ("conv-h", i, "user", text, tool, None, cap, cel, hdr)
        for i, (text, tool, cap, cel, hdr) in enumerate(turns)
    ]
    df = spark.createDataFrame(rows, RICH_TRANSCRIPT_SCHEMA)
    cfg = ExtractConfig(engine=engine, sentence_split=sentence_split)
    fused = {
        (r["conv_id"], r["turn_idx"]): r
        for r in extract_turns_fused(df, cfg).collect()
    }
    assert len(fused) == len(turns)
    for i, (text, tool, cap, cel, hdr) in enumerate(turns):
        exp = extract_turn(
            text, tool, engine=engine, sentence_split=sentence_split,
            caption=cap, cells=cel, headers=hdr,
        )
        got = fused[("conv-h", i)]
        assert got["extracted_text"] == exp["extracted_text"], (i, text)
        assert [tuple(s) for s in got["spans"]] == exp["spans"], (i, text)
        assert got["n_spans"] == exp["n_spans"], (i, text)
        assert got["boilerplate_ratio"] == exp["boilerplate_ratio"], (i, text)


@settings(max_examples=300, deadline=None)
@given(caption=_CELL, cells=_CELLS, headers=_HEADERS)
def test_aux_span_collection_properties(caption, cells, headers):
    """For ARBITRARY caption/cells/headers (None, blanks, unicode): the
    collection keeps the reference order (caption, cells row-major,
    headers), drops exactly the blank/None entries, and never raises."""
    from docling_translate_spark.operators.segment import aux_span_texts

    out = aux_span_texts(caption, cells, headers)
    # every emitted text is non-blank and appears in the inputs
    flat_inputs = [caption] + [
        c for row in (cells or []) if row is not None for c in row
    ] + list(headers or [])
    for kind, text in out:
        assert text.strip()
        assert text in [str(x) for x in flat_inputs if x is not None]
        assert kind in ("caption", "table_cell", "table_header")
    # kinds appear in reference collection order
    kinds = [k for k, _ in out]
    assert kinds == sorted(
        kinds, key=("caption", "table_cell", "table_header").index
    )
    # count equals the number of non-blank entries
    expected = (1 if caption is not None and str(caption).strip() else 0)
    expected += sum(
        1
        for row in (cells or [])
        if row is not None
        for c in row
        if c is not None and str(c).strip()
    )
    expected += sum(
        1 for h in (headers or []) if h is not None and str(h).strip()
    )
    assert len(out) == expected
