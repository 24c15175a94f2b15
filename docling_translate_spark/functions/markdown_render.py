"""Markdown → HTML render stage — the reference's text-file presentation
path (``src/text_html_generator.py:24``: ``markdown.Markdown(
extensions=['fenced_code', 'tables', 'nl2br'])``, applied per segment at
``:491-495``).

Render parity is presentation-only (not extraction-correctness), so the
strategy is: use the real ``markdown`` package when the environment has
it (exact reference behavior); otherwise fall back to a deterministic
built-in SUBSET renderer covering the three reference extensions —
fenced code blocks, pipe tables, nl2br — plus ATX headers, single-level
tight bullet/ordered lists, ``***``/``___`` horizontal rules, inline
code/links/bold/italic (code spans stashed first so their contents are
inert to the later inline passes, the package's placeholder
discipline), and escaped paragraphs. The subset is pinned by fixtures
in ``tests/test_render_markdown.py``; swapping in the real package
changes which branch runs, not the API.

Documented residual envelope of the subset (exotic-markdown cases that
need the real package): nested and loose (blank-line-separated) lists,
list-item continuation lines, ``---``/``- - -`` rules (excluded on
purpose — a hyphen rule after a text line is a setext-H2 underline in
the package, and mimicking half of that rule would diverge worse than
omitting it), setext headers, blockquotes, reference-style links,
images, raw inline HTML passthrough, and ordered-list ``start``
numbering (the package ignores literal numbers too, but emits
``start`` in some versions).

Spark-side the renderer is an Arrow UDF (string → string presentation
kernels have no JVM equivalent; this is the sanctioned slow-path shape,
one Python crossing per render stage).
"""

from __future__ import annotations

import html
import re

import pyarrow as pa

from pyspark.sql import Column, functions as F
from pyspark.sql.types import StringType

from docling_translate_spark.arrow_io import read_strings, string_array

try:  # the reference's exact renderer, if the environment provides it
    import markdown as _markdown_pkg  # type: ignore
except ImportError:  # this container: deterministic subset below
    _markdown_pkg = None

_FENCE_RE = re.compile(r"^(```|~~~)[ \t]*([\w+-]*)[ \t]*$")
_HEADER_RE = re.compile(r"^(#{1,6})\s+(.*?)\s*#*\s*$")
_TABLE_SEP_RE = re.compile(r"^\s*\|?\s*:?-{3,}:?\s*(\|\s*:?-{3,}:?\s*)*\|?\s*$")
_LIST_ITEM_RE = re.compile(r"^[ ]{0,3}([-*+]|\d+\.)[ ]+(.*)$")
# *** / ___ only — hyphen rules are deliberately out of envelope
# (setext-underline ambiguity; module docstring). Spacing matches the
# package's HR regex: runs of the char separated by AT MOST two spaces
# ('*    *    *' is NOT a rule there either).
_HR_RE = re.compile(r"^[ ]{0,3}((\*+[ ]{0,2}){3,}|(_+[ ]{0,2}){3,})[ ]*$")


def _inline(text: str) -> str:
    """Escape, then inline code / links / bold / italic, in the
    package's precedence order: code spans are stashed as placeholders
    FIRST so their contents are inert to the later passes (`` `*x*` ``
    must render the literal stars), and link tags are stashed so a URL
    can't be chewed by emphasis — while the link TEXT stays live for
    emphasis, as the package processes children."""
    out = html.escape(text, quote=False)
    stash: list[str] = []

    def _keep(frag: str) -> str:
        stash.append(frag)
        return f"\x02{len(stash) - 1}\x03"

    out = re.sub(
        r"`([^`]+)`", lambda m: _keep(f"<code>{m.group(1)}</code>"), out
    )
    out = re.sub(
        r"\[([^\]]+)\]\(([^)\s]+)\)",
        # the href sits in a double-quoted attribute: quotes in the URL
        # must become &quot; (the package's serializer escapes them too
        # — unescaped they'd break out of the attribute)
        lambda m: _keep(f'<a href="{m.group(2).replace(chr(34), "&quot;")}">')
        + m.group(1)
        + _keep("</a>"),
        out,
    )
    out = re.sub(r"\*\*([^*]+)\*\*", r"<strong>\1</strong>", out)
    out = re.sub(r"\*([^*]+)\*", r"<em>\1</em>", out)
    # a fragment can carry an earlier placeholder (a code span inside a
    # link URL), so restore until none is left
    n = 1
    while n:
        out, n = re.subn(r"\x02(\d+)\x03", lambda m: stash[int(m.group(1))], out)
    return out


def _render_table(lines: list[str]) -> str:
    def cells(line: str) -> list[str]:
        return [c.strip() for c in line.strip().strip("|").split("|")]

    head = cells(lines[0])
    rows = [cells(ln) for ln in lines[2:]]
    parts = ["<table>", "<thead>", "<tr>"]
    parts += [f"<th>{_inline(c)}</th>" for c in head]
    parts += ["</tr>", "</thead>", "<tbody>"]
    for r in rows:
        parts.append("<tr>")
        parts += [f"<td>{_inline(c)}</td>" for c in r]
        parts.append("</tr>")
    parts += ["</tbody>", "</table>"]
    return "\n".join(parts)


def _render_subset(text: str) -> str:
    """Deterministic subset renderer (fenced_code + tables + nl2br +
    headers + lists + rules + inline marks)."""
    # the package strips STX/ETX from the source before processing (its
    # own placeholder chars); doing the same keeps _inline's stash
    # tokens collision-free on binary-contaminated text
    text = (text or "").replace("\x02", "").replace("\x03", "")
    lines = text.split("\n")
    out: list[str] = []
    para: list[str] = []
    i = 0

    def flush_para() -> None:
        if para:
            # nl2br: every newline inside a paragraph becomes <br />
            out.append("<p>" + "<br />\n".join(_inline(ln) for ln in para) + "</p>")
            para.clear()

    while i < len(lines):
        line = lines[i]
        fence = _FENCE_RE.match(line)
        if fence:
            flush_para()
            marker, lang = fence.group(1), fence.group(2)
            body: list[str] = []
            i += 1
            while i < len(lines) and not lines[i].rstrip().startswith(marker):
                body.append(lines[i])
                i += 1
            i += 1  # skip closing fence (or run off the end, like the pkg)
            cls = f' class="language-{lang}"' if lang else ""
            out.append(
                f"<pre><code{cls}>" + html.escape("\n".join(body)) + "\n</code></pre>"
            )
            continue
        header = _HEADER_RE.match(line)
        if header:
            flush_para()
            level = len(header.group(1))
            out.append(f"<h{level}>{_inline(header.group(2))}</h{level}>")
            i += 1
            continue
        if (
            "|" in line
            and i + 1 < len(lines)
            and _TABLE_SEP_RE.match(lines[i + 1])
        ):
            flush_para()
            tbl = [line, lines[i + 1]]
            i += 2
            while i < len(lines) and "|" in lines[i]:
                tbl.append(lines[i])
                i += 1
            out.append(_render_table(tbl))
            continue
        # a rule splits even MID-paragraph (the package's hr processor
        # searches the whole block and splits it: 'a\n***\nb' becomes
        # <p>a</p><hr /><p>b</p>), so this check runs before the
        # paragraph fall-through with a flush
        if _HR_RE.match(line):
            flush_para()
            out.append("<hr />")
            i += 1
            continue
        # lists DO need a closed paragraph: the package's list regex
        # anchors at block start, so '- x' directly after paragraph
        # text stays paragraph content (the fall-through)
        lm = _LIST_ITEM_RE.match(line)
        if lm and not para:
            # list type comes from the FIRST item; continuation items
            # of EITHER marker type stay in the same list (the
            # package's child regex accepts both), but a rule line
            # terminates it (hr outranks list there too)
            tag = "ol" if lm.group(1)[0].isdigit() else "ul"
            items = [lm.group(2)]
            i += 1
            while i < len(lines) and not _HR_RE.match(lines[i]):
                nm = _LIST_ITEM_RE.match(lines[i])
                if not nm:
                    break
                items.append(nm.group(2))
                i += 1
            body = "\n".join(f"<li>{_inline(it)}</li>" for it in items)
            out.append(f"<{tag}>\n{body}\n</{tag}>")
            continue
        if not line.strip():
            flush_para()
            i += 1
            continue
        para.append(line)
        i += 1
    flush_para()
    return "\n".join(out)


def render_markdown(text: str) -> str:
    """Render one markdown payload to HTML — the reference's per-segment
    render call (text_html_generator.py:491-495)."""
    if _markdown_pkg is not None:
        conv = _markdown_pkg.Markdown(extensions=["fenced_code", "tables", "nl2br"])
        return conv.convert(text or "")
    return _render_subset(text or "")


def render_markdown_col(col: Column | str) -> Column:
    """Arrow-batched render over a markdown string column; a null
    payload stays null (the kernel renders it as ``""``, the ``when``
    restores the null)."""

    @F.arrow_udf(StringType())
    def _render(texts: pa.Array) -> pa.Array:
        return string_array([render_markdown(t) for t in read_strings(texts)])

    col = F.col(col) if isinstance(col, str) else col
    return F.when(col.isNotNull(), _render(col))
