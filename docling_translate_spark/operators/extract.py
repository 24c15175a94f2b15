"""End-to-end per-turn main-content extraction pipeline.

Mirrors the reference's query lifecycle (reference ``src/core.py:324-536``)
re-planned for Spark as ONE ``mapInPandas`` pass per Arrow batch:

1. segment turns into spans            (``segmenters.segment_text``)
2. classify formula / boilerplate      (the pure predicates in
                                        ``docling_translate_spark.classify``)
3. dedup unique content texts          (the reference's
                                        ``list(set(all_sentences))``,
                                        ``src/core.py:453-455`` — scoped
                                        per Arrow batch)
4. apply the deterministic map engine  (one vectorized call per batch —
                                        the "translate" stage,
                                        ``src/translation/base.py:38-97``)
5. join results back by exact text with identity fallback
   (``src/core.py:486``, ``src/html_generator.py:565-567``, ``:692``) —
   an in-batch dict probe
6. reassemble per turn in span order   (spans of a turn are born
                                        colocated, so nothing moves);
   empty/binary turns keep one output row with no spans, preserving
   per-turn parity with the input

Scale notes (100 TB / 10^12 turns):

* The physical plan is a single narrow stage: no exchange, so
  parallelism = scan partitions. Callers on skewed sources should
  ``repartitionByRange(conv_id, turn_idx)`` first — range on the *pair*
  splits a million-turn conversation across tasks, so no salting is
  needed.
* Every map engine is deterministic and pure, so the dedup scope only
  decides how often the map runs, never the output bytes.
* ``ordered=True`` adds the one range exchange of a global
  ``(conv_id, turn_idx)`` sort.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from docling_translate_spark.extract_map import create_engine
from docling_translate_spark.schema import EXTRACTED_SCHEMA

# Separator used when stitching per-turn content spans back together.
CONTENT_JOINER = "\n\n"


@dataclass(frozen=True)
class ExtractConfig:
    engine: str = "identity"
    ordered: bool = False       # global (conv_id, turn_idx) sort of output
    # sentence-level map units: tokenize each content segment into
    # sentences, dedup/map per sentence, rejoin with ' ' — the reference's
    # html path (core.py:428, html_generator.py:562-572). The ' ' rejoin
    # normalizes intra-segment newlines exactly like the reference's
    # " ".join(sentences).
    sentence_split: bool = False


def extract_turns_fused(
    transcripts: DataFrame, config: ExtractConfig | None = None
) -> DataFrame:
    """ZERO-shuffle extraction: the whole per-turn pipeline fused into one
    ``mapInPandas`` pass; returns EXTRACTED_SCHEMA rows.

    Spans of a turn are born colocated inside the segmentation batch, so
    this operator segments, classifies, dedups (batch scope, the
    reference's per-document scope, core.py:453-455), maps, and
    reassembles each turn inside the Arrow batch — the physical plan is a
    single narrow stage, which is also what makes it legal under
    Structured Streaming (no stateful ops). Byte-equality with the
    pure-Python twin (:func:`docling_translate_spark.golden.extract_turn`)
    is pinned in tests.
    """
    cfg = config or ExtractConfig()
    fn = create_engine(cfg.engine)

    # late imports keep the closure light for pickling to workers
    from docling_translate_spark.classify import (
        has_nul_byte,
        is_boilerplate_segment,
        is_formula,
    )
    from docling_translate_spark.operators.segment import aux_span_texts
    from docling_translate_spark.segmenters import segment_text
    from docling_translate_spark.sentences import split_sentences

    sentence_split = cfg.sentence_split

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            conv_ids, turn_idxs, span_lists, content_lists = [], [], [], []
            uniq: dict[str, None] = {}
            n = len(pdf)
            tools = pdf["tool"] if "tool" in pdf else pd.Series([None] * n)
            caps = pdf["caption"] if "caption" in pdf else pd.Series([None] * n)
            cells = pdf["cells"] if "cells" in pdf else pd.Series([None] * n)
            heads = pdf["headers"] if "headers" in pdf else pd.Series([None] * n)
            for cid, tix, text, tool, cap, cel, hdr in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"], tools, caps, cells, heads
            ):
                spans, contents = [], []
                payload = str(text) if text is not None else None
                if payload is not None and payload.strip() and not has_nul_byte(payload):
                    for seg_text, start, end, tr, st, line in segment_text(
                        payload, tool or None
                    ):
                        if tr and is_formula(seg_text):
                            st, tr = "formula", False
                        elif tr and is_boilerplate_segment(seg_text):
                            st, tr = "boilerplate", False
                        spans.append(
                            {
                                "start_pos": start,
                                "end_pos": end,
                                "segment_type": st,
                                "translatable": tr,
                                "line_number": line,
                            }
                        )
                        if tr and seg_text.strip():
                            if sentence_split:
                                # sentence-level map units (core.py:428)
                                sents = split_sentences(seg_text)
                                contents.append(sents)
                                for sent in sents:
                                    uniq[sent] = None
                            else:
                                contents.append(seg_text)
                                uniq[seg_text] = None
                # §2.8 UNION ALL of span sources: caption + table cells +
                # headers, pooled WHOLE — no sentence split, no
                # formula/boilerplate pass (src/core.py:429-448)
                for st, aux_text in aux_span_texts(cap, cel, hdr):
                    spans.append(
                        {
                            "start_pos": -1,
                            "end_pos": -1,
                            "segment_type": st,
                            "translatable": True,
                            "line_number": -1,
                        }
                    )
                    contents.append([aux_text] if sentence_split else aux_text)
                    uniq[aux_text] = None
                conv_ids.append(cid)
                turn_idxs.append(tix)
                span_lists.append(spans)
                content_lists.append(contents)

            # batch-scoped dedup + one vectorized map call (the reference's
            # unique-sentence translate pass, core.py:453-486)
            keys = pd.Series(list(uniq.keys()), dtype="object")
            mapped = fn(keys) if len(keys) else keys
            lookup = dict(zip(keys, mapped))

            n_spans = [len(s) for s in span_lists]
            yield pd.DataFrame(
                {
                    "conv_id": conv_ids,
                    "turn_idx": turn_idxs,
                    "extracted_text": [
                        (
                            CONTENT_JOINER.join(
                                " ".join(lookup.get(s, s) for s in sents)
                                for sents in cl
                            )
                            if sentence_split
                            else CONTENT_JOINER.join(lookup.get(c, c) for c in cl)
                        )
                        for cl in content_lists
                    ],
                    "spans": span_lists,
                    "n_spans": n_spans,
                    "boilerplate_ratio": [
                        (
                            sum(
                                1
                                for s in sl
                                if s["segment_type"] == "boilerplate"
                            )
                            / ns
                            if ns
                            else 0.0
                        )
                        for sl, ns in zip(span_lists, n_spans)
                    ],
                }
            )

    want = ["conv_id", "turn_idx", "text", "tool", "caption", "cells", "headers"]
    slim = transcripts.select(*[c for c in want if c in transcripts.columns])
    out = slim.mapInPandas(gen, EXTRACTED_SCHEMA)
    if cfg.ordered:
        out = out.repartitionByRange("conv_id", "turn_idx").sortWithinPartitions(
            "conv_id", "turn_idx"
        )
    return out
