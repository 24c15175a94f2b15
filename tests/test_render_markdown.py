"""Markdown render stage: subset-renderer fixtures (fenced_code, tables,
nl2br — the reference's three extensions) + Spark column parity."""

from docling_translate_spark.functions.markdown_render import (
    render_markdown,
    render_markdown_col,
)


def test_fenced_code_block():
    out = render_markdown("before\n\n```python\nx = 1 < 2\n```\n\nafter")
    assert '<pre><code class="language-python">x = 1 &lt; 2\n</code></pre>' in out
    assert "<p>before</p>" in out and "<p>after</p>" in out


def test_unclosed_fence_runs_to_end():
    out = render_markdown("```\ncode line")
    assert "<pre><code>code line\n</code></pre>" in out


def test_pipe_table():
    out = render_markdown("| a | b |\n|---|---|\n| 1 | 2 |")
    assert "<table>" in out and "<th>a</th>" in out and "<td>2</td>" in out


def test_nl2br_inside_paragraph():
    out = render_markdown("line one\nline two")
    assert out == "<p>line one<br />\nline two</p>"


def test_headers_and_inline():
    out = render_markdown("## Title\n\nsome `code` and **bold** and *em*")
    assert "<h2>Title</h2>" in out
    assert "<code>code</code>" in out
    assert "<strong>bold</strong>" in out and "<em>em</em>" in out


def test_html_escaped():
    out = render_markdown("a < b & c")
    assert "&lt;" in out and "&amp;" in out and "<script" not in out


def test_empty_and_none():
    assert render_markdown("") == ""
    assert render_markdown(None) == ""


def test_column_matches_pure(spark):
    texts = [
        "# H\n\npara\nline2",
        "```sh\nls | wc\n```",
        "| x |\n|---|\n| 1 |",
        "",
        None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    )
    rows = {
        r["i"]: r["h"]
        for r in df.select("i", render_markdown_col("t").alias("h")).collect()
    }
    for i, t in enumerate(texts):
        expected = render_markdown(t) if t is not None else None
        assert rows[i] == expected, i


def test_tight_bullet_list():
    assert render_markdown("- a\n- b\n\nafter") == (
        "<ul>\n<li>a</li>\n<li>b</li>\n</ul>\n<p>after</p>"
    )


def test_tight_ordered_list_and_marker_mix():
    assert render_markdown("1. a\n2. b") == "<ol>\n<li>a</li>\n<li>b</li>\n</ol>"
    # the package continues ONE list across marker types — the list's
    # tag comes from the first item
    assert render_markdown("- a\n1. b") == "<ul>\n<li>a</li>\n<li>b</li>\n</ul>"
    assert render_markdown("1. a\n- b") == "<ol>\n<li>a</li>\n<li>b</li>\n</ol>"


def test_list_needs_blank_after_paragraph():
    # the package does not recognize a list on the line directly after
    # paragraph text — it stays paragraph content (nl2br applies)
    assert render_markdown("text\n- a") == "<p>text<br />\n- a</p>"


def test_horizontal_rule_stars_only():
    assert render_markdown("a\n\n***\n\nb") == "<p>a</p>\n<hr />\n<p>b</p>"
    assert render_markdown("* * *") == "<hr />"
    assert render_markdown("___") == "<hr />"
    # hyphen rules are out of envelope (setext ambiguity): stays a paragraph
    assert render_markdown("---") == "<p>---</p>"


def test_horizontal_rule_splits_midblock():
    # the package's hr processor splits a block even without blank
    # lines around the rule
    assert render_markdown("a\n***\nb") == "<p>a</p>\n<hr />\n<p>b</p>"
    # a rule line also terminates a list (hr outranks list)
    assert render_markdown("- a\n* * *\n- b") == (
        "<ul>\n<li>a</li>\n</ul>\n<hr />\n<ul>\n<li>b</li>\n</ul>"
    )
    # >2 spaces between rule chars is NOT a rule in the package either
    assert "<hr />" not in render_markdown("*    *    *")


def test_href_quote_escaped_and_stash_collision_proof():
    assert render_markdown('[x](u"v)') == '<p><a href="u&quot;v">x</a></p>'
    # literal STX/ETX bytes are stripped like the package does, so the
    # inline stash placeholders can't collide with input content
    assert render_markdown("\x020\x03 `c`") == "<p>0 <code>c</code></p>"


def test_code_span_inside_link_url_fully_restored():
    # the code span's placeholder sits inside the stashed href fragment
    out = render_markdown("[a](`u`)")
    assert "\x02" not in out and "\x03" not in out, repr(out)
    assert "<code>u</code>" in out


def test_inline_link_and_code_stash():
    assert render_markdown("see [docs](http://x/y) now") == (
        '<p>see <a href="http://x/y">docs</a> now</p>'
    )
    # emphasis applies inside link text but never inside code spans
    assert render_markdown("[*em*](u)") == '<p><a href="u"><em>em</em></a></p>'
    assert render_markdown("`*x*` and *y*") == (
        "<p><code>*x*</code> and <em>y</em></p>"
    )


def test_list_items_get_inline_marks():
    assert render_markdown("- **b** and `c`") == (
        "<ul>\n<li><strong>b</strong> and <code>c</code></li>\n</ul>"
    )
