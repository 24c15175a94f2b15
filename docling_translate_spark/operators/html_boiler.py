"""HTML main-content extraction — tag-ratio / text-density / link-density
boilerplate classification (the docling-style heuristics the north rule
names; algorithmic lineage: jusText (Pomikálek 2011) and Boilerpipe
(Kohlschütter et al., WSDM 2010) block classification).

The reference strips markdown/code/config structure per format
(``src/text_parser.py``); raw HTML turns additionally need BLOCK-level
classification: navigation, headers, footers, and link farms are
well-formed prose to a line regex but are boilerplate by block shape —
short, link-dense, tag-dense. The classifier here:

1. splits a turn into blocks at block-level tag boundaries,
2. computes per-block signals — word count (text-density proxy),
   link density (chars inside ``<a>`` / text chars), inline-tag ratio
   (inline tags per word), and the engine's line-level boilerplate
   battery (``classify.BOILERPLATE_LINE_REGEX``: page markers,
   separator rules, © / confidentiality footers) applied block-wise,
3. keeps blocks that look like running text: ``words >= min_words``,
   ``link_density < max_link_density``, ``tag_ratio <= max_tag_ratio``,
   and not a boilerplate-battery match,
4. reassembles surviving blocks (tags stripped, entities unescaped,
   whitespace normalized) in document order.

Scale shape: projections of higher-order column expressions
(split / transform / filter / aggregate) — JVM-side, no Python, zero
shuffle, parallelism = scan partitions, and
DuckDB-expressible so the driver gate value-checks it end to end.
Spark interprets the lambda functions, so these projections run
outside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from docling_translate_spark.classify import BOILERPLATE_LINE_REGEX

# block-level boundaries: opening OR closing forms of structural tags.
# Portable regex subset (works in Java regex and RE2): no lookarounds,
# no backrefs; (?i) inline flag is supported by both.
BLOCK_SPLIT_REGEX = (
    r"(?i)</?(?:p|div|li|ul|ol|h[1-6]|table|thead|tbody|tr|td|th|br|hr|"
    r"section|article|main|header|footer|nav|aside|blockquote|pre)"
    r"(?:\s[^>]*)?>"
)
ANY_TAG_REGEX = r"<[^>]+>"
# [\s\S] instead of DOTALL: portable across Java regex and RE2.
# '<a(?:\s[^>]*)?>' not '<a[^>]*>': the latter also matches abbr/
# address/audio/area openings, mis-anchoring link text over genuine
# content and inflating its link density past the drop threshold.
LINK_TEXT_REGEX = r"(?i)<a(?:\s[^>]*)?>([\s\S]*?)</a>"

DEFAULT_MIN_WORDS = 5
DEFAULT_MAX_LINK_DENSITY = 0.33
DEFAULT_MAX_TAG_RATIO = 0.5


def _strip_tags(block: Column) -> Column:
    """Visible text of a block: tags → space, the four entities the
    reference's escape chain covers unescaped, whitespace normalized."""
    t = F.regexp_replace(block, ANY_TAG_REGEX, " ")
    t = F.replace(t, F.lit("&nbsp;"), F.lit(" "))
    t = F.replace(t, F.lit("&lt;"), F.lit("<"))
    t = F.replace(t, F.lit("&gt;"), F.lit(">"))
    t = F.replace(t, F.lit("&amp;"), F.lit("&"))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def _word_count(text: Column) -> Column:
    return F.when(text == "", F.lit(0)).otherwise(
        F.size(F.split(text, r"\s+"))
    )


def extract_main_content(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = DEFAULT_MIN_WORDS,
    max_link_density: float = DEFAULT_MAX_LINK_DENSITY,
    max_tag_ratio: float = DEFAULT_MAX_TAG_RATIO,
) -> DataFrame:
    """Per input row: ``main_text`` (content blocks, tags stripped,
    joined with ``'\\n'`` in document order), ``n_blocks``,
    ``n_content_blocks``, and ``boilerplate_ratio`` (rounded to 6
    decimals; 0.0 for block-less input).

    A block survives iff words ≥ ``min_words`` AND link density <
    ``max_link_density`` AND inline-tag-per-word ratio ≤
    ``max_tag_ratio``. Plain text with no markup is a single block, so
    prose turns pass through unchanged (minus whitespace normalization)
    and the operator is safe to run over mixed HTML/plain corpora.
    """
    raw = F.coalesce(F.col(text_col), F.lit(""))
    blocks = F.filter(
        F.transform(F.split(raw, BLOCK_SPLIT_REGEX), F.trim),
        lambda b: b != "",
    )

    def info(b: Column) -> Column:
        text = _strip_tags(b)
        words = _word_count(text)
        link_chars = F.length(
            F.array_join(
                F.transform(
                    F.regexp_extract_all(b, F.lit(LINK_TEXT_REGEX), F.lit(1)),
                    _strip_tags,
                ),
                " ",
            )
        )
        n_tags = F.size(F.regexp_extract_all(b, F.lit(ANY_TAG_REGEX), F.lit(0)))
        link_density = link_chars / F.greatest(F.length(text), F.lit(1))
        tag_ratio = n_tags / F.greatest(words, F.lit(1))
        is_content = (
            (words >= min_words)
            & (link_density < max_link_density)
            & (tag_ratio <= max_tag_ratio)
            & ~text.rlike(BOILERPLATE_LINE_REGEX)
        )
        return F.struct(
            text.alias("text"), is_content.alias("is_content")
        )

    # The per-block regex battery is materialized ONCE in its own
    # projection: higher-order functions are interpreted (no codegen
    # CSE), so referencing the `infos` expression from each of the four
    # output columns would re-run the whole battery 3-4x per row. A
    # multi-referenced non-cheap expression blocks CollapseProject, so
    # the staged projections survive optimization (same pattern and
    # measured lesson as shingle_df, dedup.py).
    staged = df.select(F.col(id_col), F.transform(blocks, info).alias("_infos"))
    staged = staged.select(
        id_col,
        "_infos",
        F.filter("_infos", lambda s: s["is_content"]).alias("_content"),
    )
    n_blocks = F.size("_infos").cast("long")
    n_content = F.size("_content").cast("long")
    return staged.select(
        id_col,
        F.array_join(
            F.transform("_content", lambda s: s["text"]), "\n"
        ).alias("main_text"),
        n_blocks.alias("n_blocks"),
        n_content.alias("n_content_blocks"),
        F.when(n_blocks == 0, F.lit(0.0))
        .otherwise(F.round(1 - n_content / n_blocks, 6))
        .alias("boilerplate_ratio"),
    )
