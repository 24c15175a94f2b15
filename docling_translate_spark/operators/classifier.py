"""Trained quality classifier: multinomial Naive Bayes over hashed
n-gram features, trained by pure aggregation.

The "quality classifier" step every large-scale LLM data pipeline names
(GPT-3 Appendix A trains a linear model on WebText-vs-CommonCrawl and
keeps documents the model scores as positive; CCNet, LLaMA and
FineWeb-Edu apply the same shape with different seeds): fit a small
model on labeled seed corpora — positive = curated/exemplar documents,
negative = raw crawl — then score EVERY candidate document and keep the
ones the model calls positive (or above a threshold).

Naive Bayes is the deliberate model choice for a declarative engine:
training is nothing but counting (per-class hashed-n-gram counts →
smoothed log-likelihood-ratio weights), so the whole fit is two
aggregations Catalyst can plan — no gradient loop, no driver-side
state — and the fitted model is exactly reproducible by any SQL engine,
which is what lets the composed train+score flow carry a full value
oracle. The per-bucket feature weight coincides with the DSIR
likelihood-ratio term (the two share the gram/bucket kernel,
``sampling.gram_buckets``); the classifier differs in what it computes
with it: a supervised two-class decision with a class prior and an
argmax label over ARBITRARY scored documents, where DSIR importance-
weights the raw corpus itself for resampling.

Cross-engine exactness follows the DSIR/BM25 convention: every
per-bucket weight is quantized to integer MICRO-units once
(``round(term·1e6) → BIGINT``), per-document sums then run in exact
order-independent BIGINT arithmetic, and one final division by 1e6 is a
single correctly-rounded IEEE op on identical integers. See
``sampling.dsir_weights`` for the quantization-boundary residual-risk
argument (same grid, same bound).

Scale shape (100 TB): the gram explode is narrow and never persisted
(corpus-sized, cheap to recompute); per-class counts are agg-shaped
with map-side combine (a hot bucket collapses per task before the
exchange); the fitted weight table is EXACTLY ``m_buckets`` rows —
complete, every bucket carries its smoothed weight, so scoring is a
plain broadcast inner join with no unseen-bucket fallback logic on the
corpus-sized side — and the only full shuffle is the final per-document
aggregation. No driver collect; no per-row Python.

Reference scope: the reference engine (/root/reference) has no trained
classifier; this is an engine addition on the LLM-curation axis, like
dedup.py and sampling.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from docling_translate_spark.operators.sampling import gram_buckets

#: quantization grid for per-bucket log-ratio terms (micro-units);
#: shared with the oracle SQL — see dsir_weights for why 1e6, not 1e9
NB_MICRO = 1e6


def nb_train(
    pos_df: DataFrame,
    neg_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_buckets: int = 1024,
) -> tuple[DataFrame, DataFrame]:
    """Fit the classifier. Returns ``(weights, prior)``:

    - ``weights``: exactly ``m_buckets`` rows ``(_b BIGINT, _s BIGINT)``
      — for every bucket b (observed or not), the micro-quantized
      add-one-smoothed log-likelihood ratio
      ``round(1e6 · (ln((pc_b+1)/(P+m)) − ln((nc_b+1)/(N+m))))`` where
      ``pc/nc`` are per-class gram counts and ``P/N`` the class totals.
      Unseen buckets get the smoothing-only weight by construction —
      scored documents may contain grams absent from BOTH seeds.
    - ``prior``: one row ``(_prior BIGINT)`` =
      ``round(1e6 · (ln(n_pos+1) − ln(n_neg+1)))`` over seed DOCUMENT
      counts (add-one so an empty seed class stays finite).

    Both sides are tiny (≤ m_buckets + 1 rows) and meant to be
    broadcast by the caller; both derive declaratively (no collect), so
    the fit composes into one lazy plan with the scoring pass.
    """
    spark = pos_df.sparkSession
    pos_rows = gram_buckets(pos_df, id_col, text_col, m_buckets)
    neg_rows = gram_buckets(neg_df, id_col, text_col, m_buckets)

    # per-class bucket counts: ≤ m_buckets rows each; each feeds its
    # class total and the weight join, and AQE runs the shared
    # aggregate's exchange once for both
    pc = pos_rows.groupBy("_b").agg(F.count("*").alias("_pc"))
    nc = neg_rows.groupBy("_b").agg(F.count("*").alias("_nc"))
    p_tot = pc.groupBy().agg(F.coalesce(F.sum("_pc"), F.lit(0)).alias("_P"))
    n_tot = nc.groupBy().agg(F.coalesce(F.sum("_nc"), F.lit(0)).alias("_N"))

    m = float(m_buckets)
    # COMPLETE bucket axis: spark.range is a parallelized generator, so
    # the weight table covers all m buckets without a driver-side list.
    # pc/nc hide behind aggregates (unknown stats) — broadcast-hint both
    # or the planner shuffles the m-row build sides (DSIR lesson).
    weights = (
        spark.range(m_buckets)
        .select(F.col("id").alias("_b"))
        .join(F.broadcast(pc), "_b", "left")
        .join(F.broadcast(nc), "_b", "left")
        .crossJoin(F.broadcast(p_tot))
        .crossJoin(F.broadcast(n_tot))
        .select(
            "_b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("_pc"), F.lit(0)) + 1).cast("double")
                        / (F.col("_P").cast("double") + F.lit(m))
                    )
                    - F.log(
                        (F.coalesce(F.col("_nc"), F.lit(0)) + 1).cast("double")
                        / (F.col("_N").cast("double") + F.lit(m))
                    )
                )
                * F.lit(NB_MICRO),
                0,
            )
            .cast("long")
            .alias("_s"),
        )
    )
    prior = (
        pos_df.groupBy()
        .agg(F.count("*").alias("_np"))
        .crossJoin(neg_df.groupBy().agg(F.count("*").alias("_nn")))
        .select(
            F.round(
                (
                    F.log((F.col("_np") + 1).cast("double"))
                    - F.log((F.col("_nn") + 1).cast("double"))
                )
                * F.lit(NB_MICRO),
                0,
            )
            .cast("long")
            .alias("_prior")
        )
    )
    return weights, prior


def nb_classify(
    df: DataFrame,
    pos_df: DataFrame,
    neg_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_buckets: int = 1024,
) -> DataFrame:
    """Score every document of ``df`` under the NB model fitted on the
    seeds: ``score = prior + Σ_g weight(bucket(g))`` over every gram
    occurrence (multinomial NB counts repeats). One output row per
    input document:

    ``(id, n_grams BIGINT, nb_score DOUBLE, nb_label STRING)``

    ``nb_label`` is ``'pos'`` iff the exact integer score is > 0 (ties
    at exactly 0 go to ``'neg'`` — deterministic on the BIGINT grid,
    never an FP comparison). Documents with no grams (empty text) score
    the prior alone.

    Precondition (same contract as ``retrieval.bm25_topk``): ``id_col``
    must be unique in ``df`` — duplicate ids merge their gram counts in
    the per-doc aggregate and then fan out through the final reattach
    join, so each copy would carry the MERGED score.
    """
    weights, prior = nb_train(pos_df, neg_df, id_col, text_col, m_buckets)
    rows = gram_buckets(df, id_col, text_col, m_buckets)
    # complete table ⇒ inner join loses no gram; broadcast ⇒ the
    # corpus-sized side never shuffles here
    summed = (
        rows.join(F.broadcast(weights), "_b")
        .groupBy("_did")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("_s").alias("_sum"),
        )
    )
    # 1-row broadcast prior attaches via a constant-cost nested-loop
    # join; exact BIGINT end to end, one final division per doc
    return (
        df.select(F.col(id_col).alias("_did"))
        .join(summed, "_did", "left")
        .crossJoin(F.broadcast(prior))
        .select(
            F.col("_did").alias(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0).cast("long")).alias("n_grams"),
            (
                (F.coalesce(F.col("_sum"), F.lit(0)) + F.col("_prior")).cast(
                    "double"
                )
                / F.lit(NB_MICRO)
            ).alias("nb_score"),
            F.when(
                F.coalesce(F.col("_sum"), F.lit(0)) + F.col("_prior") > 0,
                F.lit("pos"),
            )
            .otherwise(F.lit("neg"))
            .alias("nb_label"),
        )
    )


def nb_filter(
    df: DataFrame,
    pos_df: DataFrame,
    neg_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_buckets: int = 1024,
) -> DataFrame:
    """The GPT-3-recipe keep step: retain the rows of ``df`` the fitted
    classifier labels positive. Left-semi join on the id, so ``df``'s
    own columns pass through untouched and the scored side stays slim.
    """
    keep = (
        nb_classify(df, pos_df, neg_df, id_col, text_col, m_buckets)
        .filter(F.col("nb_label") == "pos")
        .select(F.col(id_col))
    )
    return df.join(keep, id_col, "left_semi")
