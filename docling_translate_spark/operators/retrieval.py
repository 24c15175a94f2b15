"""BM25 full-text retrieval: score every document against a short
keyword query and return the top-k (Robertson & Zaragoza 2009; the
Lucene-default variant with the always-positive idf
``ln(1 + (N - df + 0.5)/(df + 0.5))``).

Engine addition — the text-retrieval counterpart of the ANN suite (the
reference has no search surface at all). Useful in a curation pipeline
for exemplar mining: pull the corpus documents most similar to a
hand-written probe query before seeding DSIR's target set.

Scale shape: per-term term frequencies are row-local array reductions
over the tokenized text — NO explode, NO per-token shuffle. Corpus
statistics (N, Σdl, per-term document frequencies) reduce to ONE row
via partial aggregation and re-attach as a broadcast nested-loop join
of that single row, so the whole scoring plan is scan → project → tiny
agg broadcast → TakeOrdered: zero wide shuffles of corpus rows. Per-row
work is one array scan per distinct query term.

Cross-engine FP stability (same discipline as ``dsir_weights``): each
per-(doc, term) partial score is quantized to integer MICRO-units
(``round(idf·tfnorm·1e6) → BIGINT``) and the per-doc total is a sum of
exact integers — order-independent, so Spark and a SQL oracle agree
whenever the quantized terms agree. All ops in the term score are
correctly-rounded IEEE (divisions, multiplies) on identical inputs
except ``ln``, whose 1-ulp libm wobble sits ~1e-8 grid units from any
x.5 boundary at the micro grid — per-term residual risk, never
observed (see the dsir_weights docstring for the full argument).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _tokenize(text_col: str):
    txt = F.trim(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    return F.filter(F.split(txt, r"\s+"), lambda t: t != "")


def _tf_of(term: str):
    # closure factory, NOT `lambda t, trm=trm: ...` — a second (even
    # defaulted) parameter makes Spark bind the (element, index) form
    # of the higher-order lambda and the term literal becomes an index
    return lambda t: t == F.lit(term)


def _micro_term(tf_int, dl_int, df_int, n_int, sdl_int, k1: float, b: float):
    """Quantized per-(doc, term) BM25 partial score, mirrored verbatim
    in the DuckDB oracle."""
    n = n_int.cast("double")
    # avgdl > 0 guard: an all-empty corpus keeps every tfnorm at 0
    avgdl = F.when(sdl_int > 0, sdl_int.cast("double") / n)
    tf = tf_int.cast("double")
    dfreq = df_int.cast("double")
    idf = F.log(F.lit(1.0) + (n - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5)))
    tfnorm = (tf * F.lit(k1 + 1.0)) / (
        tf
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * (dl_int.cast("double") / avgdl))
    )
    return F.when(
        (tf_int > 0) & avgdl.isNotNull(),
        F.round(idf * tfnorm * F.lit(1e6), 0).cast("long"),
    ).otherwise(F.lit(0).cast("long"))


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for ``query`` under BM25, deterministic total
    order (score DESC, id ASC — ties at the cut are engine-stable
    because scores derive from exact BIGINT micro-unit sums).

    Output: ``(id, matched BIGINT, score DOUBLE)`` — ``matched`` is the
    number of distinct query terms present in the doc. Documents
    matching no term score 0.0 and rank by id; an empty corpus or an
    all-empty corpus yields all-zero scores (no division by zero).

    ``id_col`` must be UNIQUE (it is the document identity): ranking
    over a multiset of ids is ill-defined, so dedupe first.
    """
    terms = sorted({t for t in query.lower().split() if t})
    if not terms:
        raise ValueError("bm25_topk needs at least one query term")
    scored = _bm25_scores(df, terms, id_col, text_col, k1, b)
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def _bm25_scores(
    df: DataFrame,
    terms: list[str],
    id_col: str,
    text_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """One tf column per term, one broadcast stats row, zero wide
    shuffles of corpus rows."""
    # tokens materialize in their own projection: 1 + len(terms)
    # consumers follow, and Catalyst keeps a multiply-referenced
    # non-cheap alias in its own project instead of re-inlining the
    # split per consumer (the higher-order-lambda re-eval lesson)
    tok = df.select(
        F.col(id_col).alias("_id"), _tokenize(text_col).alias("_toks")
    )
    base = tok.select(
        "_id",
        F.size("_toks").alias("_dl"),
        *[
            F.size(F.filter(F.col("_toks"), _tf_of(trm))).alias(f"_tf{i}")
            for i, trm in enumerate(terms)
        ],
    )

    # ONE stats row: N, Σdl, per-term doc frequencies — partial agg on
    # every task, a single-row exchange, then a broadcast re-attach
    stats = base.agg(
        F.count("*").alias("_N"),
        F.coalesce(F.sum("_dl"), F.lit(0)).alias("_sdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))

    micro_terms = [
        _micro_term(
            F.col(f"_tf{i}"),
            F.col("_dl"),
            F.col(f"_df{i}"),
            F.col("_N"),
            F.col("_sdl"),
            k1,
            b,
        )
        for i in range(len(terms))
    ]
    matched = reduce(
        lambda a, c: a + c,
        [(F.col(f"_tf{i}") > 0).cast("long") for i in range(len(terms))],
    )
    score_micro = reduce(lambda a, c: a + c, micro_terms)
    return scored.select(
        F.col("_id").alias(id_col),
        matched.alias("matched"),
        (score_micro.cast("double") / F.lit(1e6)).alias("score"),
    )


# --------------------------------------------------------------------
# Scale-safe per-group top-k (salted two-phase ranking)
#
# "Best k docs per domain by quality" is the curation step after
# scoring (§2.16 NB classifier, unigram LM, BM25), and its naive plan
# is the hot-key window this repo bans: row_number() over
# (partitionBy group) colocates EVERY row of a viral group — one
# domain with 10^8 pages at 10^12 rows — in one task for the sort
# (the dedup_segments docstring's "would melt" shape). The fix is the
# same two-phase idea as the salted conversation_rollup above, applied
# to ranking: rank within (group, salt) first — a hot group spreads
# over salt_buckets tasks and each bucket keeps only k survivors —
# then rank the <= k * salt_buckets survivors per group. Both phases
# are windows, but every partition is bounded: group_size/salt_buckets
# in phase 1 (size the bucket count to the expected hot group),
# k * salt_buckets in phase 2.
# --------------------------------------------------------------------


def topk_per_group(
    df: DataFrame,
    group_cols,
    score_col: str,
    k: int,
    tie_cols,
    salt_buckets: int = 64,
    ascending: bool = False,
) -> DataFrame:
    """Top-``k`` rows per group by ``score_col`` (descending unless
    ``ascending``), ties broken by ``tie_cols`` ascending — which must
    totally order rows WITHIN a group (e.g. a unique id), or the
    selection at the k boundary is not well-defined on any engine.
    Output: the input columns plus ``rank`` (1-based). Deterministic
    at any partitioning; NULL scores sort last (never outrank a
    value)."""
    group_cols, tie_cols = list(group_cols), list(tie_cols)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    if not tie_cols:
        raise ValueError("tie_cols must name at least one column")
    score = F.col(score_col)
    order = [
        score.asc_nulls_last() if ascending else score.desc_nulls_last()
    ] + [F.col(c).asc() for c in tie_cols]

    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*group_cols, *tie_cols), F.lit(salt_buckets)),
    )
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(*order)
    survivors = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
    )


# --------------------------------------------------------------------
# Per-document TF-IDF keywords (the classic keyword-extraction /
# auto-tagging pass a corpus data card ships: which terms characterize
# each document against the whole corpus). Deliberately the plain
# smoothed formulation — score = tf · ln((N+1)/(df+1)) — because the
# oracle must replay it exactly; BM25 above covers the saturated/
# length-normalized ranking family.
#
# Scale shape: explode → (doc, term) tf agg (map-side combine; the
# partition key is (doc, term), never a hot corpus-wide key), df is an
# agg OVER the tf relation (one row per (doc, term), so df = count(*)
# per term with map-side combine), N rides a 1-row broadcast. The
# final ranking window partitions on ONE document — bounded by its
# distinct-term count, never the corpus (the dup_spans bound); Spark
# plans its rank <= k filter as a WindowGroupLimit on both sides of the
# exchange, so each map task ships at most k rows per document. The tf
# relation has two consumers (df + scoring); it is deliberately NOT
# persisted — corpus-sized, and the narrow re-derivation is cheap (the
# unigram_logprob rationale).
#
# Cross-engine FP stability: the idf is quantized to integer
# micro-units (round(ln((N+1)/(df+1))·1e6) → BIGINT) and the score is
# tf · idf_micro — BIGINT-exact, so ranking never compares
# engine-local doubles (the dsir_weights/bm25 discipline, incl. its
# documented ~1e-8-grid-units ln residual).
# --------------------------------------------------------------------


def tfidf_keywords(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document:
    ``(id_col, term, tf, score_micro, rank)`` — tf and score BIGINT,
    rank 1-based BIGINT, ties broken lexicographically on the term
    (total order: terms are unique within a document's tf relation).
    Token-free documents emit no rows."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = df.select(
        F.col(id_col).alias("_did"),
        F.explode(
            F.split(
                F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
            )
        ).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("_did", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("_df"))
    n = df.agg(F.count("*").alias("_n"))
    idf_micro = F.round(
        F.log((F.col("_n") + 1) / (F.col("_df") + 1)) * F.lit(1000000.0)
    ).cast("long")
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "_did",
            "term",
            "tf",
            (F.col("tf") * idf_micro).alias("score_micro"),
        )
    )
    w = Window.partitionBy("_did").orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_did").alias(id_col),
            "term",
            "tf",
            "score_micro",
            "rank",
        )
    )
