"""DOM token-sequence lexer: raw turn text → byte-stream/DOM tokens.

The north star names "tokenizes raw turn text into byte-stream/DOM
token sequences in batched Arrow columns"; the reference consumes
docling's already-parsed item stream (`doc.iterate_items()`,
/root/reference/src/core.py:401) and never exposes the lexing step.
This operator is that step as a first-class column transform: one
deterministic markup lexer producing, per turn, the ordered token
sequence with token kind and byte length.

Lexing is ONE regex alternation (`LEXER_RE`) extracted with
``regexp_extract_all`` — alternatives, leftmost-first:

1. ``</?[A-Za-z][^>]*>`` — open/close/self-closing tag
2. ``<![^>]*>`` / ``<\\?[^>]*>`` — doctype/comment/PI declarations
   (simplified: a declaration containing '>' lexes at the first '>';
   fixtures pin the behavior)
3. ``&#?[A-Za-z0-9]+;`` — character/entity reference
4. ``[^<& \\t\\n\\r]+`` — maximal text run (whitespace separates)
5. bare ``<`` / ``&`` — literal characters that start no construct

Every lexeme classifies by its first bytes (pure string comparisons —
no second regex pass): ``close`` / ``open`` / ``self`` / ``decl`` /
``entity`` / ``text``. Tag tokens normalize to the lowercase tag name;
everything else keeps the raw lexeme. ``nbytes`` carries the UTF-8
byte length of the raw lexeme so downstream byte-stream consumers can
reconstruct offsets by prefix sum (whitespace between text tokens is
the only dropped content).

Scale shape: the whole lexer — extract-all, per-token classification
via ``transform``, byte lengths — is one projection of higher-order
column expressions (interpreted: lambda functions run outside
whole-stage codegen): zero exchanges, zero Python,
parallelism = scan partitions (same shape as
``html_boiler.extract_main_content``). Both the leftmost-first
alternation and every classifier comparison are engine-portable
(verified Java regex == RE2 == Python `re` on the fixture battery), so
a DuckDB oracle can mirror the lexer exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

LEXER_RE = (
    r"</?[A-Za-z][^>]*>|<![^>]*>|<\?[^>]*>"
    r"|&#?[A-Za-z0-9]+;|[^<& \t\n\r]+|<|&"
)
TAG_NAME_RE = r"^</?([A-Za-z][A-Za-z0-9]*)"


def _classify(t: Column) -> Column:
    """Token kind from the lexeme's leading bytes (see module doc)."""
    first = F.substring(t, 1, 1)
    two = F.substring(t, 1, 2)
    return (
        F.when(t == "<", F.lit("text"))
        .when(two == F.lit("</"), F.lit("close"))
        .when((two == F.lit("<!")) | (two == F.lit("<?")), F.lit("decl"))
        .when((first == F.lit("<")) & t.endswith("/>"), F.lit("self"))
        .when(first == F.lit("<"), F.lit("open"))
        .when(t == "&", F.lit("text"))
        .when(first == F.lit("&"), F.lit("entity"))
        .otherwise(F.lit("text"))
    )


def _token_value(t: Column, kind: Column) -> Column:
    """Lowercase tag name for tag tokens, raw lexeme otherwise."""
    return F.when(
        kind.isin("open", "close", "self"),
        F.lower(F.regexp_extract(t, TAG_NAME_RE, 1)),
    ).otherwise(t)


def dom_tokens_expr(text: Column) -> Column:
    """``array<struct<kind,tok,nbytes>>`` token sequence of ``text``.

    One higher-order expression — usable inside any projection; NULL
    text lexes as the empty sequence.
    """

    def mk(t: Column) -> Column:
        kind = _classify(t)
        return F.struct(
            kind.alias("kind"),
            _token_value(t, kind).alias("tok"),
            F.octet_length(t).cast("long").alias("nbytes"),
        )

    lex = F.regexp_extract_all(
        F.coalesce(text, F.lit("")), F.lit(LEXER_RE), F.lit(0)
    )
    return F.transform(lex, mk)


def dom_tokenize(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "dom_tokens",
) -> DataFrame:
    """Adds the per-row DOM token sequence column (zero-shuffle)."""
    return df.withColumn(out_col, dom_tokens_expr(F.col(text_col)))


def dom_tokens_flat(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exploded view: ``(id, tok_idx, kind, tok, nbytes)`` per token.

    ``posexplode`` keeps the in-document token order as an explicit
    0-based index so the flat relation stays order-free (safe to
    shuffle). The explode is narrow — no exchange is introduced.
    """
    toks = dom_tokenize(df, text_col=text_col)
    return toks.select(
        F.col(id_col),
        F.posexplode("dom_tokens").alias("tok_idx", "_t"),
    ).select(
        id_col,
        F.col("tok_idx").cast("long").alias("tok_idx"),
        F.col("_t.kind").alias("kind"),
        F.col("_t.tok").alias("tok"),
        F.col("_t.nbytes").alias("nbytes"),
    )
