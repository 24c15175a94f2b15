"""Driver-side golden oracle for the extraction pipeline.

Computes the expected per-turn output in plain Python, walking one turn at
a time the way the reference walks one document at a time
(``src/core.py:324-536``). Tests assert the Spark pipeline equals this
byte-for-byte under ``(conv_id, turn_idx)`` ordering.

The fused Spark kernel and this twin share the pure kernels (segmenters,
the :mod:`docling_translate_spark.classify` predicates, the sentence
splitter, the map engines); the twin re-derives everything around them
independently — one turn at a time, one map call per text, no batch
dedup or lookup, no Arrow — so the tests pin the kernel's batching,
dedup, join-back and reassembly.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from docling_translate_spark.classify import (
    has_nul_byte,
    is_boilerplate_segment,
    is_formula,
)
from docling_translate_spark.extract_map import create_engine
from docling_translate_spark.operators.extract import CONTENT_JOINER
from docling_translate_spark.segmenters import segment_text

import pandas as pd


def classify_span(text: str, translatable: bool, seg_type: str) -> Tuple[str, bool]:
    """Final (segment_type, translatable) after formula/boilerplate rules."""
    if translatable and is_formula(text):
        return "formula", False
    if translatable and is_boilerplate_segment(text):
        return "boilerplate", False
    return seg_type, translatable


def extract_turn(
    text: Optional[str],
    tool: Optional[str],
    engine: str = "identity",
    sentence_split: bool = False,
    caption: Optional[str] = None,
    cells: Optional[List[Optional[List[Optional[str]]]]] = None,
    headers: Optional[List[Optional[str]]] = None,
) -> Dict:
    """Expected pipeline output for one turn.

    ``caption``/``cells``/``headers`` are the optional §2.8 span sources:
    each non-blank one appends a span ``(-1, -1, type, True, -1)`` after
    the body spans and is mapped WHOLE — no sentence split, no
    formula/boilerplate pass (src/core.py:429-448)."""
    from docling_translate_spark.operators.segment import aux_span_texts
    from docling_translate_spark.sentences import split_sentences

    fn = create_engine(engine)
    spans: List[Tuple[int, int, str, bool, int]] = []
    content: List[str] = []
    n_boiler = 0
    if text is not None and str(text).strip() and not has_nul_byte(str(text)):
        for seg_text, start, end, translatable, seg_type, line in segment_text(
            str(text), tool or None
        ):
            seg_type, translatable = classify_span(seg_text, translatable, seg_type)
            if seg_type == "boilerplate":
                n_boiler += 1
            spans.append((start, end, seg_type, translatable, line))
            if translatable and seg_text.strip():
                if sentence_split:
                    # sentence-level map + ' ' rejoin (ref core.py:428,
                    # html_generator.py:571-572)
                    content.append(
                        " ".join(
                            fn(pd.Series([s])).iloc[0]
                            for s in split_sentences(seg_text)
                        )
                    )
                else:
                    content.append(fn(pd.Series([seg_text])).iloc[0])
    for seg_type, aux_text in aux_span_texts(caption, cells, headers):
        spans.append((-1, -1, seg_type, True, -1))
        content.append(fn(pd.Series([aux_text])).iloc[0])
    return {
        "extracted_text": CONTENT_JOINER.join(content),
        "spans": spans,
        "n_spans": len(spans),
        "boilerplate_ratio": (n_boiler / len(spans)) if spans else 0.0,
    }
