"""Pure segmentation kernels — the per-format "parse" operators.

These are plain ``str -> list[tuple]`` functions so they can be (a) unit
tested directly against hand-written fixtures and (b) executed vectorized
inside the Arrow-batched ``mapInArrow`` extraction kernel
(:func:`docling_translate_spark.operators.extract.extract_turns_fused`).

Semantics are pinned to the reference implementation's observable behavior
(reference ``src/text_parser.py``, studied — not copied):

* markdown   — fenced code blocks split out as non-translatable
               ``code_block``; surrounding prose paragraph-split
               (``src/text_parser.py:162-209``)
* python     — triple-quoted docstrings (split per non-blank line) and
               ``#`` comments translatable; interleaved code spans not
               (``src/text_parser.py:236-313``)
* c_style    — ``//`` line and ``/* */`` block comments translatable
               (``src/text_parser.py:315-379``)
* shell      — ``#`` comments translatable, shebang excluded
               (``src/text_parser.py:381-436``)
* config     — whole payload one translatable ``config`` segment
               (``src/text_parser.py:438-454``)
* plaintext  — ``\\n\\n`` paragraph split, whole-text fallback
               (``src/text_parser.py:456-492``)

Offset arithmetic deliberately reproduces the reference's slightly lossy
paragraph-separator accounting (``pos += len(para) + 2`` even when the
separator regex consumed more than two characters,
``src/text_parser.py:231-234``) so golden fixtures match byte-for-byte.

Each segment is the 6-tuple
``(text, start_pos, end_pos, translatable, segment_type, line_number)``.
"""

from __future__ import annotations

import re
from typing import List, Tuple

Segment = Tuple[str, int, int, bool, str, int]

# --- compiled patterns (module-level: compiled once per python worker) ---

# fenced code blocks: ``` or ~~~ with optional language tag
_MD_FENCE_RE = re.compile(r"(```[\w]*\n.*?\n```|~~~[\w]*\n.*?\n~~~)", re.DOTALL)
# blank-line paragraph separator (used by the markdown prose splitter)
_PARA_SEP_RE = re.compile(r"\n\s*\n")
# python: triple-quoted strings (either quote style) OR a # line comment
_PY_RE = re.compile(r"(\"\"\"|''')([\s\S]*?)(\1)|#[^\n]*", re.MULTILINE)
# c-style: // line comment OR /* */ block comment
_C_RE = re.compile(r"(//[^\n]*|/\*[\s\S]*?\*/)", re.MULTILINE)
# shell: # comment at line start that is not a shebang
_SHELL_RE = re.compile(r"^(?!#!)#[^\n]*", re.MULTILINE)


def split_paragraphs(
    text: str, start_pos: int, line_number: int, strip: bool
) -> List[Segment]:
    """Split prose into translatable ``prose`` paragraph segments.

    ``strip=True`` reproduces the markdown prose path (segment text is
    stripped, ref ``src/text_parser.py:211-234``); ``strip=False`` the
    plaintext path where the raw paragraph is kept
    (``src/text_parser.py:456-479``). Offsets advance by
    ``len(para) + 2`` per paragraph in both, matching the reference.
    """
    out: List[Segment] = []
    if "\n" not in text:
        # no newline ⇒ both split rules yield the single paragraph
        paras = [text]
    elif strip:
        paras = _PARA_SEP_RE.split(text)
    else:
        paras = text.split("\n\n")
    pos = start_pos
    line = line_number
    for para in paras:
        stripped = para.strip()
        if stripped:
            out.append(
                (
                    stripped if strip else para,
                    pos,
                    pos + len(para),
                    True,
                    "prose",
                    line,
                )
            )
        line += para.count("\n") + 2
        pos += len(para) + 2
    return out


def segment_markdown(content: str) -> List[Segment]:
    """Markdown: fenced code out, prose paragraph-split (ref :162-209)."""
    out: List[Segment] = []
    pos = 0
    line = 1
    for m in _MD_FENCE_RE.finditer(content):
        if m.start() > pos:
            before = content[pos : m.start()]
            if before.strip():
                out.extend(split_paragraphs(before, pos, line, strip=True))
            line += before.count("\n")
        block = m.group()
        out.append((block, m.start(), m.end(), False, "code_block", line))
        line += block.count("\n")
        pos = m.end()
    if pos < len(content):
        tail = content[pos:]
        if tail.strip():
            out.extend(split_paragraphs(tail, pos, line, strip=True))
    return out


def segment_python(content: str) -> List[Segment]:
    """Python: docstrings (per-line) + # comments translatable (ref :236-313)."""
    out: List[Segment] = []
    pos = 0
    line = 1
    for m in _PY_RE.finditer(content):
        if m.start() > pos:
            code = content[pos : m.start()]
            if code.strip():
                out.append((code, pos, m.start(), False, "code", line))
            line += code.count("\n")
        hit = m.group()
        if hit.startswith('"""') or hit.startswith("'''"):
            # docstring: one translatable segment per non-blank line; all
            # lines share the docstring's match offsets (ref :273-285)
            for i, ln in enumerate(hit.split("\n")):
                if ln.strip():
                    out.append((ln, m.start(), m.end(), True, "docstring", line + i))
        else:
            out.append((hit, m.start(), m.end(), True, "comment", line))
        line += hit.count("\n")
        pos = m.end()
    if pos < len(content):
        tail = content[pos:]
        if tail.strip():
            out.append((tail, pos, len(content), False, "code", line))
    return out


def segment_c_style(content: str) -> List[Segment]:
    """C-family: // and /* */ comments translatable (ref :315-379)."""
    out: List[Segment] = []
    pos = 0
    line = 1
    for m in _C_RE.finditer(content):
        if m.start() > pos:
            code = content[pos : m.start()]
            if code.strip():
                out.append((code, pos, m.start(), False, "code", line))
            line += code.count("\n")
        hit = m.group()
        kind = "block_comment" if hit.startswith("/*") else "line_comment"
        out.append((hit, m.start(), m.end(), True, kind, line))
        line += hit.count("\n")
        pos = m.end()
    if pos < len(content):
        tail = content[pos:]
        if tail.strip():
            out.append((tail, pos, len(content), False, "code", line))
    return out


def segment_shell(content: str) -> List[Segment]:
    """Shell: # comments translatable, shebang stays code (ref :381-436)."""
    out: List[Segment] = []
    pos = 0
    line = 1
    for m in _SHELL_RE.finditer(content):
        if m.start() > pos:
            code = content[pos : m.start()]
            if code.strip():
                out.append((code, pos, m.start(), False, "code", line))
            line += code.count("\n")
        hit = m.group()
        out.append((hit, m.start(), m.end(), True, "comment", line))
        pos = m.end()
    if pos < len(content):
        tail = content[pos:]
        if tail.strip():
            out.append((tail, pos, len(content), False, "code", line))
    return out


def segment_config(content: str) -> List[Segment]:
    """Config blobs: the whole payload is one segment (ref :438-454)."""
    return [(content, 0, len(content), True, "config", 1)]


def segment_plaintext(content: str) -> List[Segment]:
    """Plaintext: paragraph split with whole-text fallback (ref :456-492)."""
    out = split_paragraphs(content, 0, 1, strip=False)
    if not out and content.strip():
        out.append((content, 0, len(content), True, "prose", 1))
    return out


SEGMENTERS = {
    "markdown": segment_markdown,
    "python": segment_python,
    "c_style": segment_c_style,
    "shell": segment_shell,
    "config": segment_config,
    "plaintext": segment_plaintext,
}

# Transcript turns carry no filename, so we sniff the payload. The tool
# column (when it names a known language/tool) wins; otherwise content
# heuristics pick the family. Deterministic by construction.
_TOOL_FAMILY = {
    "python": "python",
    "ipython": "python",
    "bash": "shell",
    "sh": "shell",
    "shell": "shell",
    "zsh": "shell",
    "javascript": "c_style",
    "node": "c_style",
    "c": "c_style",
    "cpp": "c_style",
    "java": "c_style",
    "go": "c_style",
    "rust": "c_style",
    "json": "config",
    "yaml": "config",
    "toml": "config",
    "markdown": "markdown",
    "md": "markdown",
}

_SHEBANG_RE = re.compile(r"^#!")
_PY_HINT_RE = re.compile(r'^\s*(def |class |import |from \S+ import |""")', re.MULTILINE)
_C_HINT_RE = re.compile(r"(^|\n)\s*(//|/\*)")
_JSONISH_RE = re.compile(r"^\s*[\[{]")


def detect_format(text: str, tool: str | None = None) -> str:
    """Pick the segmenter family for one turn's payload.

    Priority: explicit tool hint → shebang → fenced-code (markdown) →
    python hints → c-style comment hints → JSON/YAML-ish → plaintext.
    """
    if tool:
        fam = _TOOL_FAMILY.get(tool.strip().lower())
        if fam:
            return fam
    if not text:
        return "plaintext"
    if _SHEBANG_RE.match(text):
        return "shell"
    if "```" in text or "~~~" in text:
        return "markdown"
    # substring prechecks are exact necessary conditions for the hint
    # regexes (C-level `in` beats re.search on the no-match majority)
    if (
        "def " in text or "class " in text or "import " in text or '"""' in text
    ) and _PY_HINT_RE.search(text):
        return "python"
    if ("//" in text or "/*" in text) and _C_HINT_RE.search(text):
        return "c_style"
    if _JSONISH_RE.match(text) and text.rstrip().endswith(("}", "]")):
        return "config"
    return "plaintext"


def segment_text(text: str, tool: str | None = None, fmt: str | None = None) -> List[Segment]:
    """Segment one turn payload; ``fmt`` overrides auto-detection."""
    family = fmt or detect_format(text, tool)
    return SEGMENTERS.get(family, segment_plaintext)(text or "")


def detect_format_col(text, tool):
    """:func:`detect_format` as one JVM-side column expression — the
    zero-Python twin for plans that only need the family label (routing
    stats, per-family rollups) without the segmentation kernel.

    Same decision ladder, same regexes (the Python path's substring
    prechecks are exact necessary conditions of the hint regexes, so
    dropping them changes nothing semantically — they exist CPython-side
    only because `in` beats `re.search` on the no-match majority; the
    JVM regex engine runs either way here). Equality with the Python
    kernel is pinned by tests/test_segmenters.py across the fixture
    battery, including non-ASCII whitespace.

    Java and Python regex dialects default to DIFFERENT whitespace and
    line semantics, so the JVM patterns carry explicit alignment:
    ``(?U)`` makes Java ``\\s``/``\\S`` Unicode (Python's default —
    without it an NBSP-indented JSON turn routes 'config' in Python and
    'plaintext' on the JVM), the class is widened to ``[\\s\\x1c-\\x1f]``
    because Python additionally treats the FS/GS/RS/US separators as
    whitespace while Unicode White_Space excludes them, and ``(?d)``
    (UNIX_LINES) pins multiline ``^`` to after-\\n only, where Java
    alone would also fire after \\r/\\u2028/\\u2029/\\x85. Python's
    ``str.rstrip()`` tail check becomes the anchored
    ``[}\\]][\\s\\x1c-\\x1f]*$`` extract under the same flags."""
    from pyspark.sql import functions as F

    ps = r"[\s\x1c-\x1f]"     # Python-\s-exact whitespace class
    nps = r"[^\s\x1c-\x1f]"   # Python-\S-exact complement
    t = F.coalesce(text, F.lit(""))
    # Python str.strip() removes str.isspace() characters — the same
    # set as the Python-\s-exact class above (CPython's re uses the
    # isspace predicate for \s). F.trim would strip ASCII spaces ONLY,
    # so a tab/newline-padded tool hint ('python\t') would route to the
    # text ladder here while the kernel honors the hint.
    tool_norm = F.lower(
        F.regexp_replace(
            F.coalesce(tool, F.lit("")),
            rf"(?U)^{ps}+|{ps}+$",
            "",
        )
    )
    tool_fam = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for kv in _TOOL_FAMILY.items()
                for x in kv
            ]
        ),
        tool_norm,
    )
    return F.coalesce(
        tool_fam,
        F.when(t == "", F.lit("plaintext"))
        .when(t.rlike(r"^#!"), F.lit("shell"))
        .when(
            t.contains("```") | t.contains("~~~"), F.lit("markdown")
        )
        .when(
            t.rlike(
                rf'(?dmU)^{ps}*(def |class |import |from {nps}+ import |""")'
            ),
            F.lit("python"),
        )
        .when(t.rlike(rf"(?U)(^|\n){ps}*(//|/\*)"), F.lit("c_style"))
        .when(
            t.rlike(rf"(?U)^{ps}*[\[{{]")
            & (F.regexp_extract(t, rf"(?U)([}}\]]){ps}*$", 1) != ""),
            F.lit("config"),
        )
        .otherwise(F.lit("plaintext")),
    )
