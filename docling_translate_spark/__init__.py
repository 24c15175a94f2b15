"""docling_translate_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the document-understanding core of
``gyunggyung/docling-translate`` (reference, read-only at /root/reference)
re-expressed Spark-first over transcript tables:

* segmentation of raw turn text into typed, offset-carrying spans
  (markdown / python / c-style / shell / config / plaintext families —
  semantics per reference ``src/text_parser.py``),
* content-vs-boilerplate classification (page header/footer drop per
  reference ``src/html_generator.py:617-619``; formula exemption per
  ``src/html_generator.py:20-45``),
* sentence tokenization, exact dedup of unique texts
  (reference ``src/core.py:453-455``), a deterministic batched map
  (the "translate" stage, reference ``src/translation/base.py``), and an
  exact-text lookup back with identity fallback (reference
  ``src/core.py:486``, ``src/html_generator.py:565-567``),
* per-turn reassembly in stable ``(conv_id, turn_idx)`` reading order
  (reference ``src/core.py:422``).

The whole per-turn chain runs as ONE extraction plan,
``operators.extract.extract_turns_fused``: a single ``mapInArrow`` pass
over Arrow batches (one vectorized Python crossing, no shuffle), so
Catalyst still prunes columns and pushes filters into the scan beneath
it. ``golden.extract_turn`` is its pure-Python twin.
"""

__version__ = "0.1.0"

from docling_translate_spark.schema import (  # noqa: F401
    TRANSCRIPT_SCHEMA,
    SPAN_SCHEMA,
    EXTRACTED_SCHEMA,
)
