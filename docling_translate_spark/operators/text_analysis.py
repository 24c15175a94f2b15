"""Text-analysis operators for a training-data pipeline.

All pure column expressions (JVM-side, codegen-friendly, DuckDB-oracle
expressible) unless noted:

* language ID      — stopword-hit heuristic over a per-language marker
                     battery (n-gram/stopword scoring)
* quality scoring  — length / punctuation ratio / stopword ratio /
                     mean word length, combined into a [0,1] score
* token counting   — whitespace tokens + a BPE-ish regex token count
* fingerprinting   — md5 over whitespace-normalized, lowercased text
                     (deterministic doc identity for dedup joins)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# tiny per-language marker sets: enough signal for a heuristic router
LANG_MARKERS = {
    "en": r"\b(the|and|of|to|is|in|that|it|for|was)\b",
    "es": r"\b(el|la|los|las|de|que|y|en|un|una|es)\b",
    "fr": r"\b(le|la|les|des|une|est|et|que|dans|pour)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b",
    "ko": r"[가-힯]",
    "zh": r"[一-鿿]",
    "ja": r"[぀-ヿ]",
}

# BPE-ish token: word pieces, numbers, or a single non-space symbol
BPE_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _count_matches(text: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pattern), F.lit(0)))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Predict language by max marker-hit count (ties → lexicographic
    language code, deterministic)."""
    txt = F.col(text_col)
    scores = F.array(
        *[
            F.struct(
                _count_matches(txt, pat).alias("hits"),
                F.lit(code).alias("code"),
            )
            for code, pat in sorted(LANG_MARKERS.items())
        ]
    )
    # sort by (-hits, code): most hits first, lexicographic code on ties
    ordered = F.array_sort(
        F.transform(
            scores,
            lambda s: F.struct((-s["hits"]).alias("neg_hits"), s["code"].alias("code")),
        )
    )
    top = F.element_at(ordered, 1)
    return df.withColumn(
        "pred_lang",
        F.when(top["neg_hits"] < 0, top["code"]).otherwise(F.lit("unknown")),
    )


# CJK codepoint ranges (Han + kana + hangul) — the SAME literal ranges
# the lang-id markers use, written as real characters so the identical
# class string drops into both Java regex (Spark) and RE2 (DuckDB
# oracles). Needed because Java/RE2 '\\w' is ASCII: without these, every
# CJK character counts as punctuation and whitespace-split word metrics
# are meaningless, so a ko/zh/ja document scores exactly 0.0 and the
# curation quality gate silently drops languages lang_id advertises.
CJK_RANGES = "一-鿿぀-ヿ가-힯"
CJK_RATIO_MIN = 0.3  # fraction of CJK chars at which a doc scores as CJK


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length, punctuation ratio, stopword ratio, mean word length, CJK
    ratio, and a combined [0,1] quality score (heuristic battery).

    CJK-aware: documents that are mostly CJK (``cjk_ratio >=
    CJK_RATIO_MIN``) take the word-length and stopword score components
    from CJK-appropriate signals (a character-length band and script
    coherence) since whitespace words and English stopwords are
    structurally absent; CJK characters never count as punctuation.
    Latin-script documents score exactly as before (their CJK terms are
    zero)."""
    # coalesce: size(split(NULL)) = -1 under default sizeOfNull and the
    # trim=='' guard passes NULL through — counts must never go negative
    txt = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(txt)
    words = F.split(F.trim(txt), r"\s+")
    n_words = F.when(F.trim(txt) == "", F.lit(0)).otherwise(F.size(words))
    n_punct = F.size(
        F.regexp_extract_all(txt, F.lit(rf"[^\w\s{CJK_RANGES}]"), F.lit(0))
    )
    n_cjk = F.size(
        F.regexp_extract_all(txt, F.lit(f"[{CJK_RANGES}]"), F.lit(0))
    )
    n_stop = _count_matches(txt, LANG_MARKERS["en"])
    mean_wlen = F.when(n_words > 0, n_chars.cast("double") / n_words).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop.cast("double") / n_words).otherwise(F.lit(0.0))
    cjk_ratio = F.when(n_chars > 0, n_cjk.cast("double") / n_chars).otherwise(F.lit(0.0))
    is_cjk = cjk_ratio >= F.lit(CJK_RATIO_MIN)

    # score: in-range word length (CJK: a character-length band — one
    # CJK char ~ one word) + modest punctuation + some stopwords (CJK:
    # script coherence stands in for stopword mass)
    score = (
        F.when(
            F.when(is_cjk, n_chars >= 10).otherwise(
                (mean_wlen >= 3.0) & (mean_wlen <= 12.0)
            ),
            F.lit(0.4),
        ).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.2, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(is_cjk | (stop_ratio >= 0.05), F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return (
        df.withColumn("n_chars_q", n_chars)
        .withColumn("n_words", n_words)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("stop_ratio", stop_ratio)
        .withColumn("mean_word_len", mean_wlen)
        .withColumn("cjk_ratio", cjk_ratio)
        .withColumn("quality_score", score)
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    # coalesce: size(split(NULL)) = -1 under default sizeOfNull, and the
    # trim=='' guard passes NULL through — counts must never go negative
    txt = F.coalesce(F.col(text_col), F.lit(""))
    ws = F.when(F.trim(txt) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(txt), r"\s+"))
    )
    bpe = F.size(F.regexp_extract_all(txt, F.lit(BPE_TOKEN_REGEX), F.lit(0)))
    return df.withColumn("ws_tokens", ws).withColumn("bpe_tokens", bpe)


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition signals (Gopher/C4-style quality gates): duplicate-line
    ratio and most-frequent-bigram mass. High values mark boilerplate-y,
    template-generated, or looping text that a pretraining corpus drops.

    Pure column expressions end to end (codegen, no shuffle, DuckDB-
    oracle expressible). The per-doc bigram mode is sort + one
    longest-equal-run ``aggregate`` pass — O(n log n) per doc. (A nested
    ``transform(distinct, b -> size(filter(bigrams, ...)))`` formulation
    is quadratic AND re-evaluates the whole bigram-building expression
    inside every lambda call — measured 50x slower; higher-order lambdas
    do not share subexpressions across nesting levels.)
    """
    txt = F.col(text_col)
    lines = F.filter(
        F.split(txt, "\n"), lambda ln: F.trim(ln) != F.lit("")
    )
    n_lines = F.size(lines)
    n_uniq_lines = F.size(F.array_distinct(lines))
    dup_line_ratio = F.when(
        n_lines > 0,
        (n_lines - n_uniq_lines).cast("double") / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))

    toks = F.split(F.lower(F.trim(txt)), r"\s+")
    n_big = F.size(toks) - 1
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # mode count = longest equal run of the SORTED bigram array: one
    # fold with a (prev, run, best) accumulator ("" never collides — a
    # bigram always contains the joiner space)
    run = lambda a, x: F.when(  # noqa: E731
        x == a["prev"], a["run"] + 1
    ).otherwise(F.lit(1))
    top_count = F.aggregate(
        F.array_sort(F.col("_bigrams")),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            run(a, x).alias("run"),
            F.greatest(a["best"], run(a, x)).alias("best"),
        ),
        lambda a: a["best"],
    )
    top_bigram_ratio = F.when(
        n_big > 0, top_count.cast("double") / n_big.cast("double")
    ).otherwise(F.lit(0.0))

    return (
        df.withColumn("_bigrams", bigrams)
        .withColumn("n_lines", F.when(n_lines > 0, n_lines).otherwise(F.lit(0)))
        .withColumn("dup_line_ratio", dup_line_ratio)
        .withColumn("top_bigram_ratio", top_bigram_ratio)
        .drop("_bigrams")
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of normalized text."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(norm))


# --- CCNet-style dedup-key normalization ---

# Accent fold map for the Latin range a curation pipeline actually
# meets (pinned, engine-portable: Spark `translate` and DuckDB
# `translate` are both per-codepoint substitutions). Uppercase never
# reaches the map — normalization lowercases first.
ACCENT_SRC = "áàâäãåāăéèêëēěíìîïīóòôöõōúùûüūñçćčýÿžšßđ"
ACCENT_DST = "aaaaaaaaeeeeeeiiiiioooooouuuuuncccyyzssd"

# Punctuation stripped by the normalizer: the ASCII punct ranges plus
# the pinned non-ASCII marks the oracle replays byte-identically.
# Explicit ranges, no \p classes — Java regex and RE2 disagree on the
# unicode coverage of \p{Punct}.
NORM_PUNCT_RE = r"[!-/:-@\[-`{-~¡¿«»‘’“”„—–…·]"


def normalize_text_col(text: Column) -> Column:
    """Dedup-key normalization (CCNet recipe — Wenzek et al. 2020,
    §4.1 "deduplication ... lowercased, numbers replaced, punctuation
    and accents removed"; SlimPajama applies the same key before
    MinHash): lowercase → accent fold → every digit → ``0`` →
    punctuation stripped → whitespace runs collapsed → trim.

    One pure column expression (zero shuffle, WholeStageCodegen) whose
    every step is replayed verbatim by the DuckDB oracle. Near-identical
    boilerplate differing only in case, numbers ("© 2024" vs "© 2025"),
    or smart-quote styling hashes identically after this map — the
    difference between catching ~30 % more web duplicates and missing
    them (the CCNet paper's motivation).

    Deliberately NOT done: NFKC (no engine-portable SQL surface;
    the accent map above covers the Latin range the pipeline meets)
    and stemming (changes token identity, not representation).
    """
    t = F.lower(text)
    t = F.translate(t, ACCENT_SRC, ACCENT_DST)
    t = F.regexp_replace(t, r"[0-9]", "0")
    t = F.regexp_replace(t, NORM_PUNCT_RE, "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def norm_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``norm_text`` (the CCNet-normalized form) and ``norm_fp``
    (its md5) — the key column every normalized dedup join runs on."""
    norm = normalize_text_col(F.col(text_col))
    return df.withColumn("norm_text", norm).withColumn("norm_fp", F.md5(norm))


# rolling-hash constants: base 31 (classic Rabin-Karp), modulus 2^40 —
# acc*31 + codepoint stays far under int64 overflow, and the identical
# integer arithmetic is reproducible in any SQL engine
_RH_BASE = 31
_RH_MOD = 1 << 40


def rolling_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Polynomial rolling-hash document fingerprint (Rabin-Karp fold over
    codepoints of the whitespace-normalized, lowercased text).

    Pure column expression — one `aggregate` fold, JVM-side, exactly
    reproducible in SQL (unlike md5-of-text it is also incrementally
    updatable, the property rolling hashes buy at scale)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    fp = F.aggregate(
        F.split(norm, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * _RH_BASE + F.ascii(ch)) % F.lit(_RH_MOD),
    )
    return df.withColumn("rolling_fp", fp)


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
):
    """Winnowing document fingerprints (Schleimer et al., the MOSS
    algorithm): k-gram rolling hashes → per-window minimum selection →
    the compact fingerprint set that guarantees detection of matches
    ≥ (window + k - 1) chars.

    numpy-vectorized per Arrow batch (the rolling hash and the sliding
    window-min are both O(n) array passes); emits exploded
    (doc, fingerprint, pos) rows ready for an inverted-index join —
    the plagiarism/near-dup detection shape at corpus scale.
    """
    from array import array
    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    from docling_translate_spark.arrow_io import int32_array, primitive_array, read_strings

    base, mod = _RH_BASE, _RH_MOD
    # the masking arithmetic below needs a power-of-two modulus
    assert mod & (mod - 1) == 0, "_RH_MOD must be a power of two"
    mask = mod - 1
    # mod-reduced base powers: h[j] = Σ cps[j+i]·base^(k-1-i) (mod 2^40)
    # — the direct polynomial equals the Rabin-Karp recurrence exactly.
    # Each product is < 2^21 · 2^40 (codepoint × reduced power), each
    # masked term < 2^40, and the k-term sum stays far under int64, so
    # the window hash is k shifted C-speed O(n) passes instead of the
    # per-character Python loop this replaced (bit-identical output —
    # fuzzed vs the loop, incl. astral codepoints). k separate passes,
    # NOT an n×k windowed product: that temporary is O(n·k) memory and
    # a single multi-MB document in a batch would balloon it.
    pows = np.array(
        [pow(base, k - 1 - i, mod) for i in range(k)], dtype=np.int64
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            sids, fps, poss = [], [], []
            for sid, text in zip(rb.column(0).to_pylist(), read_strings(rb.column(1))):
                s = " ".join(str(text or "").lower().split())
                # C-speed codepoint extraction (ord() per char is the
                # other half of the old per-character floor)
                cps = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = len(cps) - k + 1
                if n <= 0:
                    continue
                h = np.zeros(n, dtype=np.int64)
                for j in range(k):
                    h += (cps[j : j + n] * pows[j]) & mask
                h &= mask
                # winnowing: rightmost minimum of each window, dedup on
                # consecutive repeats (the canonical selection rule)
                if n <= window:
                    idx = [int(np.where(h == h.min())[0][-1])]
                else:
                    sw = np.lib.stride_tricks.sliding_window_view(h, window)
                    # rightmost min: reverse-argmin trick
                    rel = window - 1 - np.argmin(sw[:, ::-1], axis=1)
                    sel = rel + np.arange(len(rel))
                    keep = np.ones(len(sel), dtype=bool)
                    keep[1:] = sel[1:] != sel[:-1]
                    idx = sel[keep].tolist()
                sids += [int(sid)] * len(idx)
                fps += h[idx].tolist()
                poss += idx
            yield pa.RecordBatch.from_arrays(
                [
                    primitive_array(array("q", sids), pa.int64()),
                    primitive_array(array("q", fps), pa.int64()),
                    int32_array(poss),
                ],
                names=["sid", "fp", "pos"],
            )

    return df.select(id_col, text_col).mapInArrow(
        gen, "sid bigint not null, fp bigint not null, pos int not null"
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 3,
    max_bucket: int = 50,
) -> DataFrame:
    """Near-dup / plagiarism candidate pairs from shared winnowing
    fingerprints: inverted-index self-join on fp (the MOSS pipeline
    shape), counting distinct shared fingerprints per pair.

    Same scale profile as the shingle index (`dedup.py`): join keys are
    small ints, hot fingerprints (> ``max_bucket`` docs — boilerplate
    spans) are dropped as stop-fingerprints before the quadratic
    bucket join. The distinct fingerprint relation feeds the hot-bucket
    count and the anti-join; AQE runs its exchange once for both."""
    fps = winnowing_fingerprints(df, text_col, id_col, k, window).select(
        "sid", "fp"
    ).distinct()
    hot = fps.groupBy("fp").agg(F.count("*").alias("df_")).filter(
        F.col("df_") > max_bucket
    )
    rare = fps.join(hot, "fp", "left_anti")
    a = rare.select(F.col("sid").alias("id_a"), "fp")
    b = rare.select(F.col("sid").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style unigram language-model quality score (Wenzek et al.
    2020 train a LM and rank documents by perplexity; with no external
    model available the LM here is the corpus's own unigram MLE — the
    deterministic, self-contained variant). Per document:
    ``n_tokens`` and ``avg_neg_log2p`` = mean over tokens of
    −log2(count(token)/total_tokens), rounded to 6 decimals (higher =
    rarer vocabulary; boilerplate and keyword-stuffed spam score low).

    Scale shape: one explode, then two agg-shaped shuffles (vocab counts
    and the per-doc mean) plus one shuffle join token→count. The vocab
    aggregation has map-side partial combine, so hot tokens ('the')
    collapse per map task; the token join's build side is the vocab
    table, which AQE broadcasts when it is small and shuffle-joins (with
    skew split) when it is not — nothing here assumes the vocab fits
    anywhere. The corpus-total is a 1-row aggregate attached via
    broadcast crossJoin, not a driver collect. Rounding at 6 decimals
    keeps the mean stable across summation orders (double error after a
    per-doc mean is ~1e-15 relative).
    """
    # Three consumers (vocab, total, scoring join) each re-derive this
    # narrow explode from the scan — deliberately NOT persisted: the
    # exploded token table is corpus-sized (bigger than the corpus), so
    # materializing it at the 100 TB design point trades a cheap narrow
    # recompute for a massive memory/disk-spill footprint.
    tok_rows = df.select(
        F.col(id_col).alias("_did"),
        F.explode(
            F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = tok_rows.groupBy("tok").agg(F.count("*").alias("_tc"))
    total = tok_rows.groupBy().agg(F.count("*").alias("_tt"))
    scored = (
        tok_rows.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("_did")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(-F.log2(F.col("_tc") / F.col("_tt"))), 6
            ).alias("avg_neg_log2p"),
        )
    )
    return (
        df.select(F.col(id_col).alias("_did"))
        .join(scored, "_did", "left")
        .select(
            F.col("_did").alias(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce(F.col("avg_neg_log2p"), F.lit(0.0)).alias("avg_neg_log2p"),
        )
    )


# --------------------------------------------------------------------
# Bigram LM with stupid backoff (Brants et al. 2007, "Large Language
# Models in Machine Translation" — THE distributed-LM recipe: counts
# are pure aggregation, scoring is joins, no normalization pass).
#
# The CCNet quality gate above (unigram_logprob) ranks documents by
# their own corpus's unigram MLE; the bigram LM is the next rung:
# train counts on a TRUSTED subset, score any candidate set against
# them. Unseen bigrams back off to α·P_uni; unseen unigrams (OOV) hit
# an add-one floor so every position scores a finite logprob:
#
#   S(w2|w1) = c(w1 w2)/c(w1)            if c(w1 w2) > 0
#            = α · (c(w2)+1)/(N+V+1)     otherwise (add-one unigram,
#                                         V+1 folds all OOV into one
#                                         pseudo-type)
#
# Scale shape: bigram pairs are built ROW-LOCALLY from the token array
# (zero shuffle — no positioned self-join); both count tables are
# agg-shaped with map-side combine (hot bigrams collapse per map
# task); scoring attaches counts via AQE-planned joins (broadcast when
# the model is small, shuffle+skew-split when it is not — nothing
# assumes the model fits anywhere); (N, V) ride a 1-row broadcast.
# The exploded pair relation is deliberately NOT persisted (the
# unigram_logprob rationale: corpus-sized, cheap to recompute).
# --------------------------------------------------------------------

STUPID_BACKOFF_ALPHA = 0.4  # Brants et al. 2007 §3, the recommended value


def _lm_token_array(text_col: str) -> Column:
    """Whitespace tokens, lowercased, ''-free (shared with the oracle:
    trim/lower/\\s+ split — the unigram_logprob convention)."""
    return F.filter(
        F.split(
            F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
        ),
        lambda x: x != "",
    )


def _lm_pair_array(toks: Column) -> Column:
    """Adjacent-token pairs from the array, row-local. Guarded: Spark's
    ``sequence(1, 0)`` DESCENDS, so short arrays must short-circuit to
    an empty pair list instead."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
    )
    return F.when(F.size(toks) >= 2, pairs).otherwise(
        F.array().cast("array<struct<w1:string,w2:string>>")
    )


def bigram_lm_train(df: DataFrame, text_col: str = "text") -> dict:
    """Count-based stupid-backoff model from a trusted corpus:
    ``{"unigrams": (w, c_uni), "bigrams": (w1, w2, c_big),
    "totals": 1 row (n_tokens, n_vocab)}`` — all BIGINT, all pure
    aggregation (map-side combined), mergeable by summing counts.

    The vocab table is model-sized (≪ corpus) and has three consumers
    (the scorer's w1 prejoin, the w2 backoff join, and ``totals``);
    AQE runs its aggregate's exchange once for all three. ``totals``
    derives FROM the vocab table (N = Σ c_uni, V = count(*)), so
    training aggregates the corpus exactly twice (unigram agg + bigram
    agg), never a third time."""
    toks = _lm_token_array(text_col)
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c_uni"))
    )
    big = (
        df.select(F.explode(_lm_pair_array(toks)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_big"))
    )
    # coalesce: sum over an EMPTY vocab (token-free training corpus) is
    # NULL, which would NULL-poison the backoff denominator and fold
    # every score to the 0.0 coalesce — with 0 the denominator is 1 and
    # the OOV floor stays finite (= the oracle's count(*) semantics)
    totals = uni.agg(
        F.coalesce(F.sum("c_uni"), F.lit(0)).cast("long").alias("n_tokens"),
        F.count("*").alias("n_vocab"),
    )
    return {"unigrams": uni, "bigrams": big, "totals": totals}


def bigram_lm_score(
    df: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = STUPID_BACKOFF_ALPHA,
) -> DataFrame:
    """Per-document stupid-backoff surprisal vs a trained model:
    ``(id_col, n_bigrams, n_backoff, avg_neg_log2s)`` — bigram
    positions scored, positions that backed off to the unigram tier,
    and the mean −log2 S (rounded to 6 decimals, the unigram_logprob
    FP discipline: double error after a per-doc mean is ~1e-15
    relative). Documents with <2 tokens score (0, 0, 0.0)."""
    toks = _lm_token_array(text_col)
    pair_rows = df.select(
        F.col(id_col).alias("_did"), F.explode(_lm_pair_array(toks)).alias("p")
    ).select("_did", "p.w1", "p.w2")
    # prejoin the w1 denominator INTO the model (model-sized join — an
    # observed bigram's w1 is always in the vocab), so the corpus-sized
    # pair relation shuffles twice (seen-score + backoff), not three
    # times; the division c_big/c_uni is the identical double op either
    # way, so scores are bit-unchanged
    uni1 = model["unigrams"].select(
        F.col("w").alias("w1"), F.col("c_uni").alias("_c1")
    )
    seen = model["bigrams"].join(uni1, "w1").select(
        "w1", "w2", (F.col("c_big") / F.col("_c1")).alias("_s_seen")
    )
    uni2 = model["unigrams"].select(
        F.col("w").alias("w2"), F.col("c_uni").alias("_cu2")
    )
    scored = (
        pair_rows.join(seen, ["w1", "w2"], "left")
        .join(uni2, "w2", "left")
        .crossJoin(F.broadcast(model["totals"]))
    )
    s = F.coalesce(
        F.col("_s_seen"),
        F.lit(alpha)
        * (F.coalesce(F.col("_cu2"), F.lit(0)) + 1)
        / (F.col("n_tokens") + F.col("n_vocab") + 1),
    )
    per_doc = scored.groupBy("_did").agg(
        F.count("*").alias("n_bigrams"),
        F.sum(F.col("_s_seen").isNull().cast("long")).alias("n_backoff"),
        F.round(F.avg(-F.log2(s)), 6).alias("avg_neg_log2s"),
    )
    return (
        df.select(F.col(id_col).alias("_did"))
        .join(per_doc, "_did", "left")
        .select(
            F.col("_did").alias(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
                "n_bigrams"
            ),
            F.coalesce(F.col("n_backoff"), F.lit(0).cast("long")).alias(
                "n_backoff"
            ),
            F.coalesce(F.col("avg_neg_log2s"), F.lit(0.0)).alias(
                "avg_neg_log2s"
            ),
        )
    )


# --------------------------------------------------------------------
# Vocabulary divergence between two corpora (distribution-drift
# diagnostics): the question a continuously-recrawled or re-mixed
# corpus asks after snapshot_churn's "what changed" — did the LANGUAGE
# change? KL(P_a || P_b) over add-one-smoothed unigram distributions,
# with the top contributing terms (the words most over-represented in
# A relative to B) — the standard drift canary for crawler
# regressions, source-mix shifts, and contamination.
#
#   p_a(w) = (c_a(w)+1)/(N_a+V),  p_b likewise, V = |union vocab|
#   contrib(w) = p_a(w) · ln(p_a(w)/p_b(w));  KL = Σ_w contrib(w)
#
# Scale shape: one agg-shaped count per corpus (map-side combine), a
# slim full-outer join on the term key (counts only — text never
# shuffles), totals on a 1-row broadcast. Per-term contributions are
# quantized to integer NANO-units so the corpus-wide KL is a sum of
# exact BIGINTs — order-independent at any partitioning (the
# dsir_weights discipline; ln's 1-ulp libm wobble is ~1e-12 grid
# units from any rounding boundary at this magnitude). Top-k cut via
# TakeOrdered — never a global sort.
# --------------------------------------------------------------------


def vocab_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` drift terms between corpus A and corpus B:
    ``(term, c_a, c_b, contrib_nano, kl_total_nano, rank)`` — counts
    and the nano-quantized KL contribution per term, the corpus-wide
    KL total (same on every row: the 1-row broadcast), and the 1-based
    rank by descending contribution (ties broken on the term). All
    BIGINT/STRING."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def counts(d: DataFrame, alias: str) -> DataFrame:
        return (
            d.select(
                F.explode(
                    F.split(
                        F.trim(
                            F.lower(F.coalesce(F.col(text_col), F.lit("")))
                        ),
                        r"\s+",
                    )
                ).alias("term")
            )
            .filter(F.col("term") != "")
            .groupBy("term")
            .agg(F.count("*").alias(alias))
        )

    ca = counts(df_a, "c_a")
    cb = counts(df_b, "c_b")
    # merged feeds totals AND the scoring projection (and kl/top-k fan
    # out again); AQE runs each per-corpus count exchange once for all
    merged = (
        ca.join(cb, "term", "full_outer")
        .select(
            "term",
            F.coalesce(F.col("c_a"), F.lit(0)).cast("long").alias("c_a"),
            F.coalesce(F.col("c_b"), F.lit(0)).cast("long").alias("c_b"),
        )
    )
    totals = merged.agg(
        F.coalesce(F.sum("c_a"), F.lit(0)).cast("long").alias("_na"),
        F.coalesce(F.sum("c_b"), F.lit(0)).cast("long").alias("_nb"),
        F.count("*").alias("_v"),
    )
    pa = (F.col("c_a") + 1) / (F.col("_na") + F.col("_v"))
    pb = (F.col("c_b") + 1) / (F.col("_nb") + F.col("_v"))
    contrib = F.round(pa * F.log(pa / pb) * F.lit(1e9)).cast("long")
    scored = (
        merged.crossJoin(F.broadcast(totals))
        .select("term", "c_a", "c_b", contrib.alias("contrib_nano"))
    )
    kl = scored.agg(
        F.coalesce(F.sum("contrib_nano"), F.lit(0))
        .cast("long")
        .alias("kl_total_nano")
    )
    w = Window.orderBy(F.col("contrib_nano").desc(), F.col("term").asc())
    # the global window is bounded: only the top-k survivors reach it
    # (TakeOrdered semantics via the limit-pushed row_number is NOT
    # guaranteed, so cut with a real limit first)
    top = (
        scored.orderBy(F.col("contrib_nano").desc(), F.col("term").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )
    return top.crossJoin(F.broadcast(kl)).select(
        "term", "c_a", "c_b", "contrib_nano", "kl_total_nano", "rank"
    )


# --------------------------------------------------------------------
# Cross-source shingle-overlap matrix (corpus overlap / leakage
# report): which sources share content? The pairwise complement of the
# per-document near-dup suite — one number per SOURCE PAIR, the view a
# data card ships ("mirror detection": two crawls of the same site,
# a dataset embedded inside another, eval material leaked into a
# training source).
#
#   shared(a,b) = |shingles(a) ∩ shingles(b)|
#   jaccard_micro = shared·10^6 div (n_a + n_b − shared)   (exact
#   integer arithmetic end to end — no FP anywhere in this operator)
#
# Scale shape: distinct (shingle, source) via agg with map-side
# combine (a shingle repeated 10^9 times in one source collapses per
# map task); ubiquitous shingles — present in more than max_sources
# sources — are dropped BEFORE the pair join (they carry no
# discrimination and their pair fan-out is sources², the same
# stop-shingle cap discipline as dedup.py); the self-join fan-out per
# surviving shingle is then ≤ max_sources². Per-source totals ride a
# slim broadcast-sized relation (one row per source).
# --------------------------------------------------------------------


def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
    max_sources: int = 100,
) -> DataFrame:
    """Pairwise shingle overlap between groups:
    ``(source_a, source_b, shared_shingles, n_a, n_b, jaccard_micro)``
    for every group pair sharing at least one surviving shingle
    (``source_a < source_b``). All BIGINT/STRING, fully engine-exact.

    ``n``-word shingles come from ``dedup.py::shingle_df`` — ONE
    shingle definition shared with the near-dup suite (documents
    shorter than ``n`` tokens contribute their whole token string),
    with NULL/empty shingles (NULL or whitespace-only text) dropped
    here. NULL groups are excluded. Per-source totals and the shared
    counts are both measured POST-cap — the consistent-filtering
    discipline ``dedup.py::informative_shingles`` documents: identical
    mirrors score jaccard_micro = 10^6 regardless of how much of their
    content is capped boilerplate."""
    from docling_translate_spark.operators.dedup import shingle_df
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if max_sources < 2:
        raise ValueError(f"max_sources must be >= 2, got {max_sources}")
    pairs = (
        shingle_df(
            df.filter(F.col(group_col).isNotNull()).select(
                F.col(group_col).alias("_gid"), F.col(text_col)
            ),
            text_col=text_col,
            id_col="_gid",
            n=n,
        )
        .select(F.col("sid").alias("_g"), F.col("shingle").alias("_s"))
        .filter(F.col("_s").isNotNull() & (F.col("_s") != ""))
        .distinct()
    )
    # the distinct relation feeds the per-shingle cap counts and the
    # cap join; AQE runs its explode + distinct exchange once for both.
    # Its rows are two short columns (no document text), but their count
    # is the distinct shingle-source cardinality — corpus-scale; at the
    # 100 TB design point run this operator over a hash sample
    # (hash_sample composes) or a per-source shingle sketch rather than
    # the raw corpus.
    src_count = pairs.groupBy("_s").agg(F.count("*").alias("_k"))
    kept = pairs.join(
        src_count.filter(F.col("_k") <= max_sources).select("_s"), "_s"
    )
    # kept feeds three consumers (totals + both sides of the pair
    # join) and totals MUST come post-cap (consistent filtering); the
    # cap join's exchanges are shared by all three
    per_src = kept.groupBy("_g").agg(F.count("*").alias("_n"))
    a = kept.select(F.col("_s"), F.col("_g").alias("source_a"))
    b = kept.select(F.col("_s"), F.col("_g").alias("source_b"))
    shared = (
        a.join(b, "_s")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("shared_shingles"))
    )
    na = per_src.select(F.col("_g").alias("source_a"), F.col("_n").alias("n_a"))
    nb = per_src.select(F.col("_g").alias("source_b"), F.col("_n").alias("n_b"))
    return (
        shared.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_shingles",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr(
                "CAST(shared_shingles * 1000000 div "
                "(n_a + n_b - shared_shingles) AS BIGINT)"
            ).alias("jaccard_micro"),
        )
    )
