"""Corpus-scale BPE merge statistics — the inner loop of tokenizer
training (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units"), shaped the way fastBPE / HuggingFace
trainers actually run it at scale:

1. ONE corpus pass builds the distinct-word histogram (groupBy word →
   count — map-side combine, the only corpus-sized shuffle).
2. Everything after runs on the HISTOGRAM, whose cardinality is the
   vocabulary, not the corpus: each distinct word explodes into its
   adjacent symbol pairs (chars + the ``</w>`` end-of-word sentinel),
   weighted by the word's corpus frequency, and one more agg yields
   exact BIGINT pair counts.
3. The merge candidates are the top-k pairs under the total order
   (count DESC, left ASC, right ASC) — a bounded sort-limit
   (TakeOrdered), never a global sort; the rank window runs over the
   ``top_k`` cut rows only.

Alphabet note: words are ``[A-Za-z]+`` runs extracted FIRST and
lowercased AFTER (the classic Sennrich setup trains on a
whitespace/alpha pre-tokenized corpus). The order matters for engine
exactness: lowercasing the raw text first would route full-Unicode
case mapping through each engine's own tables (Java's ``lower('İ')``
is the two-codepoint ``i̇`` while DuckDB's is ``i`` — the same
divergence class the ``detect_format_col`` Unicode fix closed), and
the diverging expansions can leak ASCII letters into ``[a-z]+`` runs.
Extracting the ASCII runs from the RAW text first means ``lower()``
only ever sees pure-ASCII words, where every engine's mapping is
identical — so the pair explosion is bit-reproducible cross-engine
with no grapheme/codepoint ambiguity anywhere in the hashed result.

Scale shape at 100 TB: the corpus-sized stage is a single
partial-aggregated groupBy (the same shape as any word count); the
histogram stage is vocabulary-sized (tens of millions of rows at web
scale — still cluster-trivial), and ``max_vocab`` bounds it explicitly
by keeping only the most frequent words (wc DESC, word ASC — the
standard trainer cutoff). Nothing collects to the driver in the stats
path.

:func:`bpe_merges` (pytest surface) then runs the actual iterative
merge loop ON THE DRIVER over a bounded (word, count) histogram —
matching how real trainers work: the corpus pass is distributed, the
merge loop runs on the aggregated histogram that ``max_vocab`` has
made small.

Reference scope note: the reference repo tokenizes for NLLB chunking
only (`src/translation/utils.py` splits on sentence boundaries); it has
no tokenizer-training surface. This operator is an engine addition for
the LLM-training-data tier, next to ``chunk_tokens`` (consuming a
trained tokenizer's regex) — this is the producing side's statistics.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["bpe_word_histogram", "bpe_pair_stats", "bpe_merges"]

EOW = "</w>"
_WORD_RE = "[A-Za-z]+"


def bpe_word_histogram(
    df: DataFrame, text_col: str = "text", max_vocab: int | None = None
) -> DataFrame:
    """Distinct-word frequency histogram: ``[A-Za-z]+`` runs extracted
    from the raw text, lowercased after (ASCII-only — see the module
    alphabet note) → (word, wc BIGINT). The one corpus-sized
    aggregation; ``max_vocab`` keeps the top words under (wc DESC,
    word ASC) — the trainer's vocabulary cutoff, a bounded
    sort-limit."""
    words = df.select(
        F.explode(
            F.regexp_extract_all(
                F.coalesce(F.col(text_col), F.lit("")),
                F.lit(_WORD_RE),
                F.lit(0),
            )
        ).alias("_raw")
    ).select(F.lower(F.col("_raw")).alias("word"))
    hist = words.groupBy("word").agg(F.count("*").cast("long").alias("wc"))
    if max_vocab is not None:
        hist = hist.orderBy(F.col("wc").desc(), F.col("word")).limit(max_vocab)
    return hist


def _pair_array(word: Column) -> Column:
    """Adjacent symbol pairs of ``word`` + the EOW sentinel, row-local:
    for a word of length n ≥ 1, n structs (s_i, s_{i+1}) over the
    symbol list [c_1 … c_n, </w>]."""
    n = F.length(word)
    syms = F.concat(
        F.transform(
            F.sequence(F.lit(1), n), lambda i: word.substr(i, F.lit(1))
        ),
        F.array(F.lit(EOW)),
    )
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            F.element_at(syms, i).alias("l"),
            F.element_at(syms, i + F.lit(1)).alias("r"),
        ),
    )


def bpe_pair_stats(
    df: DataFrame,
    top_k: int = 50,
    text_col: str = "text",
    max_vocab: int | None = None,
) -> DataFrame:
    """Exact first-round BPE merge candidates: the top-``top_k``
    adjacent symbol pairs by corpus frequency.

    Columns: ``left``, ``right`` (symbols; ``right`` may be the
    ``</w>`` sentinel), ``pair_count`` (BIGINT exact), ``rank``
    (BIGINT, 1-based under (pair_count DESC, left, right))."""
    hist = bpe_word_histogram(df, text_col=text_col, max_vocab=max_vocab)
    counts = (
        hist.select("wc", F.explode(_pair_array(F.col("word"))).alias("p"))
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("wc").cast("long").alias("pair_count"))
    )
    top = counts.orderBy(
        F.col("pair_count").desc(), F.col("left"), F.col("right")
    ).limit(top_k)
    # rank decorates the already-bounded top-k (≤ top_k rows reach this
    # window — never the banned unbounded single-partition sort)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("pair_count").desc(), F.col("left"), F.col("right"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def bpe_merges(
    histogram: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Reference BPE merge loop over a (word, count) histogram — the
    driver-side trainer stage real tokenizer trainers also run on the
    aggregated histogram, not the corpus. Deterministic: each round
    merges the (count DESC, left, right)-first pair. Returns the
    ordered merge list; round 1's winner equals
    :func:`bpe_pair_stats`'s rank-1 row by construction (pinned in
    tests/test_bpe.py)."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in histogram:
        key = tuple(w) + (EOW,)
        vocab[key] = vocab.get(key, 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] += c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if (
                    i + 1 < len(sym)
                    and sym[i] == best[0]
                    and sym[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges
