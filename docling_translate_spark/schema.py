"""Fixed schemas for the extraction engine.

The input shape is the ``BASELINE.json`` ``input_hint`` transcript table;
the span record mirrors the reference's ``TextSegment`` dataclass
(reference ``src/text_parser.py:28-46``), and the output shape carries the
per-turn extracted text plus span offsets and a boilerplate ratio.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Input: one row per turn of a multi-turn conversation / agent transcript.
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

# Rich transcript: the baseline shape plus the structured span sources a
# turn may carry — a figure/table caption and table cells + column
# headers (the reference collects body text AND captions AND table cells
# into the sentence pool, src/core.py:424-448). All three are optional:
# readers presence-check and degrade to the plain shape.
RICH_TRANSCRIPT_SCHEMA = StructType(
    [
        *TRANSCRIPT_SCHEMA.fields,
        StructField("caption", StringType(), True),
        StructField("cells", ArrayType(ArrayType(StringType())), True),
        StructField("headers", ArrayType(StringType()), True),
    ]
)

# One span: the reference TextSegment record plus the boilerplate/formula
# labels our classifier adds (reference src/text_parser.py:28-46,
# src/html_generator.py:20-45 and :617-619).
SPAN_FIELDS = [
    StructField("text", StringType(), True),
    StructField("start_pos", IntegerType(), False),
    StructField("end_pos", IntegerType(), False),
    StructField("translatable", BooleanType(), False),
    StructField("segment_type", StringType(), False),
    StructField("line_number", IntegerType(), False),
]
SPAN_SCHEMA = StructType(SPAN_FIELDS)

# Final per-turn output.
EXTRACTED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("extracted_text", StringType(), True),
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("start_pos", IntegerType(), False),
                        StructField("end_pos", IntegerType(), False),
                        StructField("segment_type", StringType(), False),
                        StructField("translatable", BooleanType(), False),
                        StructField("line_number", IntegerType(), False),
                    ]
                )
            ),
            True,
        ),
        StructField("n_spans", IntegerType(), True),
        StructField("boilerplate_ratio", DoubleType(), True),
    ]
)

# Lineage / checkpoint row written per partition (FIXTURES.md §3).
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("conv_id_min", StringType(), True),
        StructField("conv_id_max", StringType(), True),
        StructField("turns_processed", LongType(), False),
        StructField("spans_emitted", LongType(), False),
        StructField("boilerplate_ratio", DoubleType(), True),
        StructField("committed_ts", TimestampType(), True),
    ]
)
