"""Span sources beyond the body text: caption, table cells and headers.

The body text is segmented inside the fused extraction kernel
(:func:`docling_translate_spark.operators.extract.extract_turns_fused`),
which runs the same regex kernels the reference runs per file
(``src/text_parser.py:117-160``) over whole Arrow batches. The auxiliary
sources collected here are never re-segmented and never re-classified —
the reference pools them whole (``src/core.py:429-448``).
"""

from __future__ import annotations


def aux_span_texts(caption, cells, headers) -> list[tuple[str, str]]:
    """Caption + table-cell + column-header texts in the reference's
    collection order (src/core.py:429-448): the caption first, then data
    cells row-major (``df.values.flatten()``), then column headers;
    blank/None entries dropped."""
    out: list[tuple[str, str]] = []
    if caption is not None and str(caption).strip():
        out.append(("caption", str(caption)))
    if cells is not None:
        for row in cells:
            if row is None:
                continue
            for c in row:
                if c is not None and str(c).strip():
                    out.append(("table_cell", str(c)))
    if headers is not None:
        for h in headers:
            if h is not None and str(h).strip():
                out.append(("table_header", str(h)))
    return out
