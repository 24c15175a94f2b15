"""Aggregation / metrics rollups (SURVEY §2.5) — the benchmark-record
analog of the reference's ``TimeRecord``/``StatRecord``
(``src/benchmark.py:18-31``, ``:73-85``) plus per-conversation rollups.

Per-conversation aggregation is the one place long-transcript key skew
bites (a single conversation with 10^6 turns lands on one reducer), so
the rollup is two-phase salted: partial aggregate on (conv_id, salt),
final aggregate on conv_id — the partials are tiny, the hot key fans out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def conversation_rollup(extracted: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Per-conversation extraction metrics (A6), skew-safe.

    Phase 1 groups on (conv_id, salt) — a hot conversation spreads over
    ``salt_buckets`` reducers; phase 2 merges the small partials.
    """
    salted = extracted.withColumn(
        "salt", F.pmod(F.xxhash64("turn_idx"), F.lit(salt_buckets))
    )
    partial = salted.groupBy("conv_id", "salt").agg(
        F.count("*").alias("p_turns"),
        F.sum("n_spans").alias("p_spans"),
        F.sum(F.col("boilerplate_ratio") * F.col("n_spans")).alias("p_weighted_boiler"),
        F.sum((F.length("extracted_text") > 0).cast("long")).alias("p_nonempty"),
    )
    return partial.groupBy("conv_id").agg(
        F.sum("p_turns").alias("n_turns"),
        F.sum("p_spans").cast("long").alias("n_spans"),
        (
            F.when(
                F.sum("p_spans") > 0,
                F.sum("p_weighted_boiler") / F.sum("p_spans"),
            ).otherwise(F.lit(0.0))
        ).alias("boilerplate_ratio"),
        F.sum("p_nonempty").alias("n_nonempty_turns"),
    )


def corpus_profile(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    quantile_pcts: tuple = (25, 50, 75, 90),
) -> DataFrame:
    """Per-group corpus data card — the profiling pass a training-data
    pipeline runs before and after curation (the "data card" every
    corpus release ships: how much of what, from where, how long, how
    duplicated). One row per group:

    ``(group, n_docs, total_chars, distinct_texts, p{q}_len ...)``
    — all BIGINT, so the whole card is hash-exact across engines.

    Exact length quantiles WITHOUT a hot-key sort: the naive plan
    (``row_number`` over the group) sorts every document of a group in
    ONE task — the hot-key window shape dedup_segments' docstring warns
    about, fatal when one source holds 10^10 docs. Instead the lengths
    collapse to a per-(group, length) HISTOGRAM first (agg-shaped,
    map-side combine — a group's 10^10 rows become ≤ max_len distinct
    lengths), and the window runs over histogram rows only: its
    partition size is bounded by the number of distinct lengths, never
    by the corpus. ``p{q}_len`` is the type-1 (lower) quantile — the
    smallest length whose cumulative count reaches ``ceil(q·n/100)``,
    with the rank computed in INTEGER arithmetic (``(q·n + 99) div
    100``), so no FP ever touches the decision.

    ``distinct_texts`` counts distinct md5 fingerprints (NULL text
    folds to '' so every doc counts); ``n_docs - distinct_texts`` is
    the exact-duplicate mass per group. count_distinct plans as a
    two-phase aggregate — scale-safe.

    Rows whose ``group_col`` is NULL are excluded from the card: the
    histogram↔totals equi-joins never match a NULL key — identically in
    Spark and any SQL twin, so the behavior is engine-consistent.
    Coalesce the group column upstream to profile ungrouped rows.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    base = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length(txt)).cast("long").alias("total_chars"),
        F.count_distinct(F.md5(txt)).alias("distinct_texts"),
    )
    hist = (
        df.select(
            F.col(group_col).alias("_g"), F.length(txt).alias("_len")
        )
        .groupBy("_g", "_len")
        .agg(F.count("*").alias("_c"))
    )
    w = Window.partitionBy("_g").orderBy("_len")
    cum = hist.withColumn("_cum", F.sum("_c").over(w))
    # base is one row per group — broadcast, the histogram never
    # reshuffles for the join
    joined = cum.join(F.broadcast(base), "_g")
    quants = joined.groupBy("_g").agg(
        *[
            F.min(
                F.when(
                    F.col("_cum")
                    >= F.expr(f"(n_docs * {int(q)} + 99) div 100"),
                    F.col("_len"),
                )
            )
            .cast("long")
            .alias(f"p{q}_len")
            for q in quantile_pcts
        ]
    )
    return (
        base.join(quants, "_g")
        .select(
            F.col("_g").alias(group_col),
            "n_docs",
            "total_chars",
            "distinct_texts",
            *[f"p{q}_len" for q in quantile_pcts],
        )
    )


def stat_records(extracted: DataFrame) -> DataFrame:
    """Global StatRecord-style rollup: one row per metric name
    (count / volume / unit), like the reference's benchmark stats."""
    totals = extracted.agg(
        F.count("*").alias("turns"),
        F.sum("n_spans").alias("spans"),
        F.sum(F.length("extracted_text")).alias("chars"),
    )
    return totals.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("turns_processed").alias("metric"),
                    F.col("turns").cast("long").alias("count"),
                    F.lit("turns").alias("unit"),
                ),
                F.struct(
                    F.lit("spans_emitted").alias("metric"),
                    F.col("spans").cast("long").alias("count"),
                    F.lit("spans").alias("unit"),
                ),
                F.struct(
                    F.lit("chars_extracted").alias("metric"),
                    F.col("chars").cast("long").alias("count"),
                    F.lit("chars").alias("unit"),
                ),
            )
        ).alias("s")
    ).select("s.metric", "s.count", "s.unit")


# --------------------------------------------------------------------
# Conversation shape profile (transcript-native corpus QA)
#
# Before a 10^12-turn transcript corpus trains anything, the pipeline
# profiles its SHAPE: turn counts per role, tool-call density, role
# alternation discipline (a user/assistant protocol where the same
# role speaks twice in a row usually marks a broken scrape or a
# concatenation bug), degenerate single-role monologues, and wall-time
# span. This is the transcript analog of the per-document stats the
# reference logs per file (segment/translatable counts,
# src/text_html_generator.py:434-435) lifted to the conversation axis.
#
# Scale shape: one window computes adjacent-role repeats over SLIM
# (conv_id, turn_idx, role, len, flags) rows — the text column is
# projected to its length BEFORE the window, so no window partition
# ever carries the payload (the lsh_ann discipline). The window
# partition is one conversation: bounded by the longest transcript (a
# physical artifact measured in 10^4-10^6 rows, each a few dozen
# bytes here), never by the corpus. The groupBy that follows reuses
# the window's hash partitioning on conv_id, and every aggregate is
# algebraic, so map-side partial aggregation collapses hot
# conversations before any further exchange.
# --------------------------------------------------------------------

ROLE_AXIS = ("system", "user", "assistant", "tool")


def conversation_shape(df: DataFrame, roles=ROLE_AXIS) -> DataFrame:
    """Per-conversation transcript-shape metrics over the north-rule
    input table ``(conv_id, turn_idx, role, text, tool, ts)``.

    One row per ``conv_id``:

    - ``n_turns`` — total turns
    - ``n_role_{r}`` for each role on the axis, plus ``n_role_other``
      (roles off the axis; NULL role folds to ``''`` ⇒ other)
    - ``n_tool_calls`` — turns with a non-empty ``tool``
    - ``n_role_repeats`` — adjacent turn pairs (by ``turn_idx`` order)
      where the same (folded) role speaks twice — the alternation-
      discipline violation counter
    - ``first_role`` / ``last_role`` — arg-min/arg-max by ``turn_idx``
      (deterministic: ``turn_idx`` is unique within a conversation)
    - ``total_chars`` / ``max_turn_chars`` — NULL text counts 0
    - ``duration_sec`` — ``max(ts) - min(ts)`` in whole epoch seconds
      as BIGINT (NULL-``ts`` turns are excluded; all-NULL ⇒ 0), so no
      TIMESTAMP reaches a value hash (the w_window_agg convention)

    All outputs are BIGINT/STRING — hash-exact across engines.

    Scale shape: one exchange. The lag window partitions on ``conv_id``
    over slim projected rows (folded role, length, tool and epoch-second
    columns, never the text), and the per-conversation aggregate after
    it reuses that partitioning; every aggregate is algebraic, so none
    collects a conversation's rows.
    """
    role = F.coalesce(F.col("role"), F.lit(""))
    slim = df.filter(
        # NULL turn_idx rows are excluded up front: Spark's lag window
        # orders NULLs first while DuckDB's defaults NULLs last, and
        # min(struct) sorts NULL fields first while arg_min skips NULL
        # keys — the exact cross-engine divergence template_families
        # already guards against (commit 7f929ea); an unordered turn has
        # no position in the alternation/first/last semantics anyway
        F.col("turn_idx").isNotNull()
    ).select(
        "conv_id",
        "turn_idx",
        role.alias("_role"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("_len"),
        (F.coalesce(F.col("tool"), F.lit("")) != "").cast("long").alias("_tool"),
        F.col("ts").cast("long").alias("_sec"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    marked = slim.withColumn(
        "_rep", (F.col("_role") == F.lag("_role").over(w)).cast("long")
    )
    return marked.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        *[
            F.sum((F.col("_role") == F.lit(r)).cast("long")).alias(f"n_role_{r}")
            for r in roles
        ],
        F.sum((~F.col("_role").isin(list(roles))).cast("long")).alias(
            "n_role_other"
        ),
        F.sum("_tool").alias("n_tool_calls"),
        F.coalesce(F.sum("_rep"), F.lit(0)).cast("long").alias("n_role_repeats"),
        F.min(F.struct("turn_idx", "_role"))["_role"].alias("first_role"),
        F.max(F.struct("turn_idx", "_role"))["_role"].alias("last_role"),
        F.sum("_len").alias("total_chars"),
        F.max("_len").alias("max_turn_chars"),
        F.coalesce(F.max("_sec") - F.min("_sec"), F.lit(0))
        .cast("long")
        .alias("duration_sec"),
    )


# --------------------------------------------------------------------
# Template-family detection (transcript-native): agent transcripts
# share system prompts and canned openers — the free clustering signal
# for corpus accounting ("which harness produced this"), dedup
# stratification, and leakage audits. A family is the set of
# conversations whose FIRST turn starts with the same normalized
# prefix: the CCNet normalization ladder (text_analysis.py::
# normalize_text_col — lowercase, accents folded, digits→0, punct
# stripped, whitespace collapsed) folds the "You are agent #37"-style
# numbered variants into one family.
#
# Scale shape: the first turn is an arg-min groupBy (min(struct) —
# map-side combine collapses a 10^6-turn conversation to one row per
# input partition; NEVER the hot-key window shape), with the text
# pre-truncated to the prefix BEFORE the aggregate so the shuffle
# moves only prefix-sized payloads; the family rollup is a second
# agg-shaped groupBy on the fingerprint (a viral template collapses
# map-side). Zero windows, zero Python.
# --------------------------------------------------------------------


def template_families(
    df: DataFrame, prefix_chars: int = 200, min_family: int = 2
) -> DataFrame:
    """Template families over transcripts ``(conv_id, turn_idx, text)``:
    ``(template_fp, n_convs, rep_conv_id, sample_prefix)`` per family
    with at least ``min_family`` conversations — the md5 of the
    normalized first-turn prefix, the family size, the smallest member
    conv_id, and the shared normalized prefix itself. All
    BIGINT/STRING.

    Rows with a NULL ``turn_idx`` are excluded (a turn without an
    index has no position, so it can never be "the first turn" — and
    SQL arg_min skips NULL ordering keys, so this keeps the operator
    engine-consistent instead of letting Spark's nulls-first struct
    ordering silently pick the NULL row). Precondition: ``turn_idx``
    unique within a conversation (the north-rule table's key); on a
    duplicated index the struct-min tie-breaks on the smaller prefix,
    deterministically."""
    from docling_translate_spark.operators.text_analysis import (
        normalize_text_col,
    )

    if prefix_chars < 1:
        raise ValueError(f"prefix_chars must be >= 1, got {prefix_chars}")
    slim = df.filter(F.col("turn_idx").isNotNull()).select(
        "conv_id",
        "turn_idx",
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, prefix_chars)
        .alias("_p"),
    )
    first = slim.groupBy("conv_id").agg(
        F.min(F.struct("turn_idx", "_p"))["_p"].alias("_p0")
    )
    normed = first.select(
        "conv_id", normalize_text_col(F.col("_p0")).alias("_norm")
    )
    return (
        normed.groupBy(F.md5("_norm").alias("template_fp"))
        .agg(
            F.count("*").alias("n_convs"),
            F.min("conv_id").alias("rep_conv_id"),
            F.min("_norm").alias("sample_prefix"),
        )
        .filter(F.col("n_convs") >= min_family)
    )


# --------------------------------------------------------------------
# Declarative data-quality audit (the Deequ/Great-Expectations step)
#
# Before a 100 TB corpus ships to trainers, the pipeline asserts a
# contract over it: keys unique, required fields present, values in
# range, codes well-formed, cross-field invariants hold. Deequ's
# insight is that ALL such constraints reduce to aggregates, so an
# arbitrary rule battery costs ONE pass over the data: every rule
# becomes a conditional-sum column in a single groupBy-less agg
# (partial aggregation map-side; the exchange moves one row per
# partition), then the 1-row result unpivots to one row per rule.
#
# The one exception is uniqueness, which needs count(distinct):
# Spark plans n distinct aggregates in one agg via Expand (input
# amplified (n+1)x before the partial agg). One unique rule per audit
# is the sweet spot at scale; for several, run audits per key or use
# the HLL sketch (sketch.py::hll_distinct) and accept the estimate.
# --------------------------------------------------------------------


def quality_audit(df: DataFrame, rules) -> DataFrame:
    """One-pass rule battery: ``(rule_id, n_violations, n_rows)`` per
    rule, all BIGINT. Rules are tuples:

    - ``("not_null", rid, col)`` — violations = NULL values
    - ``("unique", rid, col)`` — violations = non-null rows minus
      distinct values (excess duplicate rows; 0 <=> all values unique)
    - ``("in_range", rid, col, lo, hi)`` — non-null values outside
      [lo, hi] (NULLs are not range violations — pair with not_null)
    - ``("matches", rid, col, regex)`` — non-null values not fully
      matching ``regex``
    - ``("in_set", rid, col, values)`` — non-null values outside the
      literal set
    - ``("check", rid, sql_bool_expr)`` — rows where the expression is
      not TRUE (a NULL result is a violation: an invariant that cannot
      be evaluated is not satisfied)

    Pure aggregation, deterministic at any partitioning: every rule is
    a conditional-sum column of one aggregate, and a one-row ``Generate``
    unpivots the result. Only a ``unique`` rule shuffles rows: its
    ``count_distinct`` hash-partitions the distinct values of its column
    before the single-row exchange; every other rule sends one partial
    row per partition.
    """
    exprs = []
    seen = set()
    for r in rules:
        kind, rid = r[0], r[1]
        if rid in seen:
            raise ValueError(f"duplicate rule_id {rid!r}")
        seen.add(rid)
        if kind == "not_null":
            v = F.sum(F.col(r[2]).isNull().cast("long"))
        elif kind == "unique":
            v = F.count(F.col(r[2])) - F.count_distinct(F.col(r[2]))
        elif kind == "in_range":
            c, lo, hi = F.col(r[2]), F.lit(r[3]), F.lit(r[4])
            v = F.sum((c.isNotNull() & ((c < lo) | (c > hi))).cast("long"))
        elif kind == "matches":
            c = F.col(r[2])
            v = F.sum((c.isNotNull() & ~c.rlike(r[3])).cast("long"))
        elif kind == "in_set":
            c = F.col(r[2])
            v = F.sum((c.isNotNull() & ~c.isin(list(r[3]))).cast("long"))
        elif kind == "check":
            v = F.sum(
                F.when(F.expr(r[2]), F.lit(0)).otherwise(F.lit(1))
            )
        else:
            raise ValueError(f"unknown rule kind {kind!r}")
        exprs.append(F.coalesce(v, F.lit(0)).cast("long").alias(f"_v{len(exprs)}"))
    if not exprs:
        raise ValueError("need at least one rule")

    agg_row = df.agg(*exprs, F.count("*").cast("long").alias("_n"))
    structs = [
        F.struct(
            F.lit(r[1]).alias("rule_id"),
            F.col(f"_v{i}").alias("n_violations"),
        )
        for i, r in enumerate(rules)
    ]
    return agg_row.select(
        F.explode(F.array(*structs)).alias("r"), F.col("_n").alias("n_rows")
    ).select("r.rule_id", "r.n_violations", "n_rows")


# --------------------------------------------------------------------
# Snapshot diff / corpus churn (continuous-crawl version accounting)
#
# A continuously-recrawled corpus ships as versioned snapshots
# (sources/checkpoint.py); the first question about any new snapshot
# is its churn: what was added, what disappeared, what changed in
# place, what is byte-stable. The diff drives incremental downstreams
# (re-embed only changed docs, re-run dedup only against added ones)
# and is the canary for crawler regressions (a 40% "changed" spike is
# a parser change, not the web).
#
# Scale shape: the join moves slim (id, digest) rows — the text
# payload itself never shuffles. The digest is md5 over the same
# fixed-width per-column encoding as scrub.py's row id ('n' for NULL,
# 'v' + md5(value) otherwise), so it is injective over NUL-bearing
# scraped text and engine-portable. Precondition: ids unique within
# each snapshot (the quality_audit `unique` rule is the gate for
# that); duplicate ids would cross-multiply in the full-outer join.
# --------------------------------------------------------------------

DIFF_STATUSES = ("added", "removed", "changed", "unchanged")


def _content_digest(content_cols) -> F.Column:
    return F.md5(
        F.concat(
            *[
                F.when(F.col(c).isNull(), F.lit("n")).otherwise(
                    F.concat(F.lit("v"), F.md5(F.col(c).cast("string")))
                )
                for c in content_cols
            ]
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_cols=("text",),
) -> DataFrame:
    """``(id_col, status)`` per id appearing in either snapshot:
    ``added`` (new only), ``removed`` (old only), ``changed`` (both,
    content digests differ), ``unchanged``. NULL content participates
    via the injective encoding (NULL == NULL ⇒ unchanged). Each side
    projects to (id, digest) before the full-outer join, so the join's
    exchanges never carry the content columns."""
    cols = list(content_cols)
    o = old.select(F.col(id_col).alias("_id"), _content_digest(cols).alias("_oh"))
    n = new.select(F.col(id_col).alias("_id"), _content_digest(cols).alias("_nh"))
    return o.join(n, "_id", "full_outer").select(
        F.col("_id").alias(id_col),
        F.when(F.col("_oh").isNull(), F.lit("added"))
        .when(F.col("_nh").isNull(), F.lit("removed"))
        .when(F.col("_oh") != F.col("_nh"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def snapshot_churn(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_cols=("text",),
) -> DataFrame:
    """``(status, n_docs)`` rollup of :func:`snapshot_diff` on a
    COMPLETE status axis — all four statuses always present (zero
    counts included) so downstream consumers get a stable frame (the
    classifier's complete-bucket-axis discipline)."""
    counts = (
        snapshot_diff(old, new, id_col, content_cols)
        .groupBy("status")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    axis = old.sparkSession.createDataFrame(
        [(s,) for s in DIFF_STATUSES], "status string"
    )
    return axis.join(counts, "status", "left").select(
        "status", F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_docs")
    )
