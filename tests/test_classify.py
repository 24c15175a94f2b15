"""Formula / boilerplate / binary-sniff classification fixtures, plus a
pure-Python vs Spark-column-expression consistency check."""

from docling_translate_spark.classify import (
    format_formula,
    has_nul_byte,
    is_boilerplate_line,
    is_boilerplate_segment,
    is_formula,
)


def test_is_formula():
    # the reference's pattern battery (html_generator.py:29-41)
    assert is_formula(r"\frac{a}{b}")
    assert is_formula("x^{2} + y")
    assert is_formula("a_{i}")
    assert is_formula("E &= mc^2")
    assert is_formula(r"\sum_i x_i")
    assert not is_formula("plain prose sentence.")
    assert not is_formula("")
    assert not is_formula("price is $5 and 10_000")  # bare $ / _ don't trigger


def test_format_formula():
    assert format_formula(r"\frac{a}{b}") == r"\[\frac{a}{b}\]"
    assert format_formula("a &= b") == r"\[\begin{aligned}a &= b\end{aligned}\]"
    assert format_formula("$x$") == "$x$"
    assert format_formula(r"\[x\]") == r"\[x\]"


def test_boilerplate_lines():
    assert is_boilerplate_line("Page 3 of 12")
    assert is_boilerplate_line("page 7")
    assert is_boilerplate_line("  42  ")
    assert is_boilerplate_line("---")
    assert is_boilerplate_line("© 2024 ExampleCorp")
    assert is_boilerplate_line("Copyright 2020 Acme Inc.")
    assert is_boilerplate_line("All rights reserved.")
    assert not is_boilerplate_line("Page numbers are discussed here")
    assert not is_boilerplate_line("A normal sentence.")


def test_boilerplate_segment():
    assert is_boilerplate_segment("Page 1 of 2\n---\n3")
    assert not is_boilerplate_segment("Page 1 of 2\nreal content here")
    assert not is_boilerplate_segment("")
    assert not is_boilerplate_segment("   \n ")


def test_nul_sniff():
    assert has_nul_byte("abc\x00def")
    assert not has_nul_byte("abcdef")
    # only the first 8 KiB is sniffed, like the reference's 8192-byte read
    assert not has_nul_byte("a" * 9000 + "\x00")


def test_column_exprs_match_pure(spark):
    """The JVM-side classifier must agree with the pure-Python rules."""
    from pyspark.sql import functions as F

    from docling_translate_spark.classify import formula_col
    from docling_translate_spark.classify import BOILERPLATE_LINE_REGEX

    samples = [
        r"\frac{a}{b}",
        "x^{2}",
        "E &= mc^2",
        "plain text",
        "Page 3 of 12",
        "Page 1 of 2\n---\n42",
        "Page 1\nreal content",
        "© 2024 Corp\nAll rights reserved.",
        "multi\n\nparagraph",
    ]
    df = spark.createDataFrame([(s,) for s in samples], ["text"])
    nonblank = F.filter(F.split("text", "\n"), lambda ln: F.trim(ln) != F.lit(""))
    got = df.select(
        "text",
        formula_col(F.col("text")).alias("f"),
        (
            (F.size(nonblank) > 0)
            & F.forall(nonblank, lambda ln: F.regexp_like(ln, F.lit(BOILERPLATE_LINE_REGEX)))
        ).alias("b"),
    ).collect()
    for row in got:
        assert row["f"] == is_formula(row["text"]), row["text"]
        assert row["b"] == is_boilerplate_segment(row["text"]), row["text"]


def test_sanitize_text_s4(spark):
    """S4 encoding-fallback analog: lone surrogates drop (the reference's
    errors='ignore'); valid text — including astral chars — is untouched,
    pure and column paths agree."""
    from pyspark.sql import functions as F

    from docling_translate_spark.classify import sanitize_text, sanitize_text_col

    assert sanitize_text("ab\ud83dcd") == "abcd"
    assert sanitize_text("\udfff\ud800") == ""  # lone halves, both dropped
    assert sanitize_text(None) is None
    clean = ["plain", "", "astral \U0001F600 pair", "korean 한글"]
    assert [sanitize_text(s) for s in clean] == clean

    df = spark.createDataFrame([(i, s) for i, s in enumerate(clean)], "i int, t string")
    rows = df.select("i", sanitize_text_col(F.col("t")).alias("s")).collect()
    assert [r["s"] for r in sorted(rows, key=lambda r: r["i"])] == clean


def test_boiler_lead_set_covers_every_alternative():
    """_BOILER_LEAD is a hand-derived first-char precheck that must stay
    a NECESSARY condition of BOILERPLATE_LINE_REGEX: for every line the
    regex matches, the first non-space char must be in the lead set —
    otherwise is_boilerplate_segment silently misclassifies. Exercise a
    sample battery spanning every regex alternative (with and without
    leading whitespace) and assert segment == line verdicts."""
    from docling_translate_spark.classify import (
        _BOILER_LEAD,
        is_boilerplate_line,
        is_boilerplate_segment,
    )

    battery = [
        "Page 3 of 40", "page 7", "Page 12",
        "3", "0042",
        "---", "===", "___", "****", "-=-=-=",
        "© 2024 ExampleCorp", "(c) 2024 ExampleCorp", "Copyright 2024",
        "CONFIDENTIAL - internal", "All rights reserved.",
        "All rights reserved",
    ]
    for line in battery:
        for pad in ("", "  ", "\t "):
            s = pad + line
            assert is_boilerplate_line(s), s
            assert s.lstrip()[0] in _BOILER_LEAD, (
                f"lead set misses {s.lstrip()[0]!r} for {s!r}"
            )
            assert is_boilerplate_segment(s), s


def test_boiler_segment_equals_per_line_verdict():
    """For any text, the segment classifier (with its lead precheck) must
    agree with the plain line regex applied to each non-blank line — the
    precheck is an optimization, never a semantic."""
    from docling_translate_spark.classify import (
        is_boilerplate_line,
        is_boilerplate_segment,
    )

    probes = [
        "Page 3 of 40", "page x", "Pag 3", "4 of 4", "7", "x7",
        " - ", "--", "---", "(c)", "(d) 2024", "c 2024",
        "CONFIDENTIAL", "Confidential", "All rights reserved!",
        "normal prose", "Copyrighted material is long",
        # non-ASCII decimal digits: \d matches every Unicode Nd digit
        "٣", "３", " ٣٤ ", "٣\n---",
    ]
    for s in probes:
        lines = [ln for ln in s.split("\n") if ln.strip()]
        verdict = bool(lines) and all(is_boilerplate_line(ln) for ln in lines)
        assert is_boilerplate_segment(s) == verdict, s
