"""Content-vs-boilerplate and formula classification kernels.

Pure functions (used inside Arrow-batched UDFs) plus the matching Spark
column expressions, so the cheap predicates run JVM-side whenever the
pipeline shape allows.

* formula detection       — LaTeX pattern battery, exempt from the content
                            map (reference ``src/html_generator.py:20-45``)
* formula formatting      — wrap bare LaTeX for display
                            (reference ``src/html_generator.py:48-64``)
* boilerplate line rules  — the PAGE_HEADER / PAGE_FOOTER drop re-derived
                            for transcript text: running "Page N of M"
                            lines, bare page numbers, rule lines, common
                            running-title chrome
                            (reference ``src/html_generator.py:617-619``)
* binary sniff            — NUL byte in payload ⇒ not text
                            (reference ``src/text_parser.py:533-550``)
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# One alternation equivalent to the reference's pattern list
# (src/html_generator.py:29-41): \cmd, ^{, _{, and &=.
FORMULA_REGEX = r"\\[a-zA-Z]+|\^\{|_\{|&="
_FORMULA_RE = re.compile(FORMULA_REGEX)

# Line-level boilerplate: page markers, bare page numbers, separator rules,
# and © / confidentiality running footers. Anchored full-line matches only.
BOILERPLATE_LINE_REGEX = (
    r"^\s*(?:"
    r"[Pp]age\s+\d+(?:\s+of\s+\d+)?"  # Page 3 / Page 3 of 12
    r"|\d+"  # bare page number line
    r"|[-=_*]{3,}"  # horizontal rules
    r"|(?:©|\(c\)|Copyright\b)[^\n]*"  # copyright footers
    r"|CONFIDENTIAL[^\n]*"
    r"|All rights reserved\.?"
    r")\s*$"
)
_BOILER_RE = re.compile(BOILERPLATE_LINE_REGEX)


def is_formula(text: str) -> bool:
    """True if the text looks like LaTeX math (ref html_generator.py:20-45)."""
    if not text:
        return False
    # exact necessary condition for any FORMULA_REGEX alternative —
    # C-level substring checks reject ordinary prose before the regex
    if (
        "\\" not in text
        and "^{" not in text
        and "_{" not in text
        and "&=" not in text
    ):
        return False
    return _FORMULA_RE.search(text) is not None


def format_formula(text: str) -> str:
    """Wrap bare LaTeX for block rendering (ref html_generator.py:48-64)."""
    text = text.strip()
    if text.startswith("$") or text.startswith("\\[") or text.startswith("\\("):
        return text
    if "&" in text:
        return "\\[\\begin{aligned}" + text + "\\end{aligned}\\]"
    return "\\[" + text + "\\]"


def is_boilerplate_line(line: str) -> bool:
    """True if a single line is page chrome / running header-footer noise."""
    return _BOILER_RE.match(line) is not None


# every BOILERPLATE_LINE_REGEX alternative starts (after ^\s*) with one of
# these characters — an exact necessary condition, so checking the first
# non-whitespace character rejects ordinary prose without splitting lines
# (this predicate runs once per segment in the fused kernel's hot loop)
_BOILER_LEAD = frozenset("0123456789Pp-=_*©(CA")


def is_boilerplate_segment(text: str) -> bool:
    """A segment is boilerplate when every non-blank line is boilerplate."""
    if not text:
        return False
    lead = text.lstrip()
    if not lead or lead[0] not in _BOILER_LEAD:
        return False
    for ln in text.split("\n"):
        if not ln.strip():
            continue
        if _BOILER_RE.match(ln) is None:
            return False
    return True  # lead is non-empty ⇒ at least one non-blank line exists


def has_nul_byte(text: str) -> bool:
    """Binary sniff on the payload head (ref text_parser.py:533-550)."""
    return "\x00" in (text or "")[:8192]


# --- Spark column expressions (JVM-side; use when input is one segment
# per row, e.g. after explode) ---


def formula_col(text: Column) -> Column:
    """Column predicate mirroring :func:`is_formula`."""
    return text.isNotNull() & F.regexp_like(text, F.lit(FORMULA_REGEX))


# --- S4: encoding-fallback analog ---
#
# The reference reads files with a utf-8 → cp949 → utf-8-errors='ignore'
# cascade (ref text_parser.py:137-144); an Iceberg ``text`` column is
# already UTF-8, so the surviving hazard is LONE SURROGATES smuggled in
# by non-Spark writers with lossy upstream decoding. (Spark itself is
# safe: UTF8String ops like substring index by code point, and neither
# py4j nor Arrow will transport a bare surrogate — verified.) The
# sanitizer mirrors the reference's errors='ignore' tail of the cascade
# as a JVM-side regexp, to run at ingest before any pandas UDF.

# escaped \uXXXX form: Java's regex engine interprets the escapes, so the
# pattern string itself stays pure ASCII (a literal surrogate in the
# pattern cannot even cross the py4j bridge)
_SURROGATE_RANGE = r"[\uD800-\uDFFF]"


def sanitize_text(text: str) -> str:
    """Pure mirror of :func:`sanitize_text_col`: drop lone surrogates
    (the reference's errors='ignore' behavior)."""
    if text is None:
        return text
    return "".join(ch for ch in text if not 0xD800 <= ord(ch) <= 0xDFFF)


def sanitize_text_col(text: Column) -> Column:
    """Drop lone-surrogate code units from a string column, JVM-side."""
    return F.regexp_replace(text, _SURROGATE_RANGE, "")
