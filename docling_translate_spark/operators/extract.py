"""End-to-end per-turn main-content extraction pipeline.

Mirrors the reference's query lifecycle (reference ``src/core.py:324-536``)
re-planned for Spark as ONE ``mapInArrow`` pass per Arrow batch:

1. segment turns into spans            (``segmenters.segment_text``)
2. classify formula / boilerplate      (the pure predicates in
                                        ``docling_translate_spark.classify``)
3. dedup content units by first-seen index, scoped per Arrow batch (the
   reference's ``list(set(all_sentences))``, ``src/core.py:453-455``). A
   unit is a body segment or an aux text (caption, cell, header). In
   sentence mode each unique segment is split once
   (``sentences.split_sentences``, the reference's ``src/core.py:428``)
   and its sentences are deduped in turn; aux texts stay whole units,
   never split, even when one equals a body segment
4. apply the deterministic map engine in one list-in/list-out call per
   batch, over the unique units (sentence mode: the unique sentences
   and aux texts) — the "translate" stage,
   ``src/translation/base.py:38-97``
5. join results back by first-seen index (``src/core.py:486``,
   ``src/html_generator.py:565-567``, ``:692``): every unique text is
   mapped, so the reference's identity fallback cannot apply, and a short
   engine result raises ``IndexError`` rather than emitting source text.
   In sentence mode each unique segment's ``" ".join`` of its mapped
   sentences is built once
6. reassemble each turn as ``CONTENT_JOINER`` over its units' outputs in
   span order, one shape for both modes (spans of a turn are born
   colocated, so nothing moves); empty/binary turns keep one output row
   with no spans, preserving per-turn parity with the input

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
from typing import Iterator, Sequence

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
    ``mapInArrow`` pass; returns EXTRACTED_SCHEMA rows.

    Spans of a turn are born colocated inside the segmentation batch, so
    this operator segments, classifies, dedups (batch scope, the
    reference's per-document scope, core.py:453-455), maps, and
    reassembles each turn inside the Arrow batch — the physical plan is a
    single narrow stage, which is also what makes it legal under
    Structured Streaming (no stateful ops). ``conv_id``/``turn_idx`` pass
    through as the input Arrow arrays, and ``spans`` is assembled once
    per batch from flat columns, so no pandas frame and no per-span dict
    is built. Every column is read and written through its Arrow buffers
    (:mod:`docling_translate_spark.arrow_io`), so the worker never loads
    pandas, which pyarrow 16.1 imports lazily inside ``pa.array`` and
    ``Array.to_numpy(zero_copy_only=False)``. Byte-equality with the
    pure-Python twin (:func:`docling_translate_spark.golden.extract_turn`)
    is pinned in tests.
    """
    cfg = config or ExtractConfig()
    fn = create_engine(cfg.engine)

    # late imports keep the closure light for pickling to workers
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    from docling_translate_spark.arrow_io import (
        bool_array,
        float64_array,
        int32_array,
        read_strings,
        string_array,
    )
    from docling_translate_spark.classify import (
        has_nul_byte,
        is_boilerplate_segment,
        is_formula,
    )
    from docling_translate_spark.operators.segment import aux_span_texts
    from docling_translate_spark.segmenters import segment_text
    from docling_translate_spark.sentences import split_sentences

    sentence_split = cfg.sentence_split
    out_schema = to_arrow_schema(EXTRACTED_SCHEMA)
    spans_type = out_schema.field("spans").type
    span_fields = list(spans_type.value_type)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            n = rb.num_rows
            names = rb.schema.names

            def col(name: str) -> Sequence:
                return read_strings(rb.column(name)) if name in names else [None] * n

            # flat span columns + list offsets: one Arrow build per batch
            starts, ends, seg_types, trans, lines = [], [], [], [], []
            offsets = [0]
            n_spans, ratios, content_lists = [], [], []
            # unique content unit -> first-seen index. In sentence mode an
            # aux text's key is a 1-tuple, so it stays a whole unit apart
            # from an equal body segment, which is split
            units: dict = {}
            unit_of = units.setdefault
            for text, tool, cap, cel, hdr in zip(
                col("text"), col("tool"), col("caption"), col("cells"), col("headers")
            ):
                contents = []
                n_boiler = 0
                if text is not None and text.strip() and not has_nul_byte(text):
                    for seg_text, start, end, tr, st, line in segment_text(
                        text, tool or None
                    ):
                        if tr and is_formula(seg_text):
                            st, tr = "formula", False
                        elif tr and is_boilerplate_segment(seg_text):
                            st, tr = "boilerplate", False
                        if st == "boilerplate":
                            n_boiler += 1
                        starts.append(start)
                        ends.append(end)
                        seg_types.append(st)
                        trans.append(tr)
                        lines.append(line)
                        if tr and seg_text.strip():
                            contents.append(unit_of(seg_text, len(units)))
                # §2.8 UNION ALL of span sources: caption + table cells +
                # headers, pooled WHOLE — no sentence split, no
                # formula/boilerplate pass (src/core.py:429-448)
                for st, aux_text in aux_span_texts(cap, cel, hdr):
                    starts.append(-1)
                    ends.append(-1)
                    seg_types.append(st)
                    trans.append(True)
                    lines.append(-1)
                    key = (aux_text,) if sentence_split else aux_text
                    contents.append(unit_of(key, len(units)))
                ns = len(starts) - offsets[-1]
                offsets.append(len(starts))
                n_spans.append(ns)
                ratios.append(n_boiler / ns if ns else 0.0)
                content_lists.append(contents)

            # batch-scoped dedup + one map call (the reference's
            # unique-sentence translate pass, core.py:453-486)
            if sentence_split:
                # sentence-level map units (core.py:428): each unique
                # segment is split once and rejoined with ' ' once; an
                # aux unit's 1-tuple key is its own one-sentence list
                sents: dict[str, int] = {}
                sent_of = sents.setdefault
                parts = [
                    [
                        sent_of(s, len(sents))
                        for s in (u if type(u) is tuple else split_sentences(u))
                    ]
                    for u in units
                ]
                mapped = fn(list(sents))
                unit_out = [" ".join([mapped[i] for i in p]) for p in parts]
            else:
                unit_out = fn(list(units))
            extracted = [
                CONTENT_JOINER.join([unit_out[i] for i in cl]) for cl in content_lists
            ]
            span_values = pa.StructArray.from_arrays(
                [
                    int32_array(starts),
                    int32_array(ends),
                    string_array(seg_types),
                    bool_array(trans),
                    int32_array(lines),
                ],
                fields=span_fields,
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("conv_id"),
                    rb.column("turn_idx"),
                    string_array(extracted),
                    pa.ListArray.from_arrays(
                        int32_array(offsets), span_values, type=spans_type
                    ),
                    int32_array(n_spans),
                    float64_array(ratios),
                ],
                schema=out_schema,
            )

    want = ["conv_id", "turn_idx", "text", "tool", "caption", "cells", "headers"]
    slim = transcripts.select(*[c for c in want if c in transcripts.columns])
    out = slim.mapInArrow(gen, EXTRACTED_SCHEMA)
    if cfg.ordered:
        out = out.repartitionByRange("conv_id", "turn_idx").sortWithinPartitions(
            "conv_id", "turn_idx"
        )
    return out
