"""Deterministic sampling and sequence-packing operators for a
training-data pipeline.

A 100 TB corpus job needs reproducible sampling (the same docs selected
on every run, every cluster size, every partitioning) and token-budget
packing (assigning documents to fixed-size training sequences). All
three operators here are pure column expressions keyed on content-
independent hashes / stable ids — no RNG, no ordering dependence on
physical partitioning — so they are DuckDB-oracle checkable and safe to
re-run incrementally.

* ``hash_sample``       — Bernoulli-style fraction sampling by md5 hash
                          cutoff. Shuffle-free (a filter on a scan —
                          predicate pushes down), the default at scale.
* ``stratified_sample`` — exact n-per-stratum quota sampling via a
                          hash-ordered ``row_number`` window. One
                          shuffle on the stratum key; hot strata are
                          bounded by the quota itself (only the sort
                          pays for skew, AQE handles it).
* ``pack_sequences``    — concat-and-chunk packing: per-stratum running
                          token count, sequence id = starting offset
                          div budget (the standard pretraining packing
                          layout). One range-sort shuffle per stratum.
* ``dsir_weights`` /
  ``dsir_select``       — DSIR importance resampling (Xie et al. 2023,
                          NeurIPS — "Data Selection for Language Models
                          via Importance Resampling"): hashed-n-gram
                          bag-of-words likelihood ratio between a small
                          target corpus and the raw corpus, summed per
                          document; deterministic top-k in place of the
                          paper's Gumbel resample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _hash_key(id_col: str) -> F.Column:
    # md5 of the decimal string id: stable across engines (Spark md5 ==
    # DuckDB md5 on identical input strings), uniform in the hex space
    return F.md5(F.col(id_col).cast("string"))


def hash_sample(df: DataFrame, fraction: float, id_col: str = "doc_id") -> DataFrame:
    """Keep ~``fraction`` of rows, deterministically: a row survives iff
    md5(id) < the hex cutoff at ``fraction`` of the keyspace.

    Lexicographic compare on the fixed-width hex digest is exact integer
    compare on the first 64 bits — no float thresholds, no RNG seeds to
    disagree across engines or reruns. At scale this is a pushed-down
    filter: no shuffle, no sort, cost O(scan).
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    if fraction >= 1.0:
        return df
    cutoff = format(int(fraction * (1 << 64)), "016x")
    return df.filter(_hash_key(id_col) < F.lit(cutoff))


def stratified_sample(
    df: DataFrame,
    n_per_stratum: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, deterministically:
    rank rows inside each stratum by (md5(id), id) and keep the first n.

    The hash order makes the quota a uniform random-looking sample that
    is still reproducible; the id tiebreak makes it total. This is the
    per-domain / per-language balancing step of corpus curation.
    """
    w = Window.partitionBy(strata_col).orderBy(_hash_key(id_col), F.col(id_col))
    return (
        df.withColumn("_sr", F.row_number().over(w))
        .filter(F.col("_sr") <= n_per_stratum)
        .drop("_sr")
    )


def mix_sources(
    df: DataFrame,
    weights: dict,
    token_budget: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic domain-mixture sampling: keep a per-source fraction
    of documents such that the EXPECTED kept tokens per source equal
    ``weights[source] * token_budget`` — the mixture-budget step between
    corpus curation and sequence packing.

    ``f_s = min(1, w_s * budget / tokens_s)``; a row survives iff its
    60-bit md5 key falls under ``floor(f_s * 2^60)``. Same keyspace as
    :func:`hash_sample`, so mixture samples nest/reproduce identically
    at any cluster size. Sources absent from ``weights`` are dropped.

    Scale shape: one per-source aggregation (a handful of rows),
    broadcast back, then a pushed-down-able filter — no other shuffle.
    The cutoff arithmetic is plain double×double→floor, exactly
    reproducible in a SQL oracle.
    """
    # coalesce: size(split(NULL)) is -1 under Spark's default
    # legacy.sizeOfNull, and the trim=='' guard passes NULL through —
    # a NULL-text row would deflate the source's token total by 1
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = (
        F.when(F.trim(txt) == "", F.lit(0))
        .otherwise(F.size(F.split(F.trim(txt), r"\s+")))
        .cast("long")
    )
    totals = df.groupBy(strata_col).agg(F.sum(toks).alias("_stoks"))
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in (kv[0], float(kv[1]))]
    )
    weight = wmap[F.col(strata_col)]
    frac = F.least(
        F.lit(1.0),
        weight * F.lit(float(token_budget)) / F.col("_stoks").cast("double"),
    )
    cutoff = F.floor(frac * F.lit(float(1 << 60))).cast("long")
    from docling_translate_spark.functions.hashing import md5_prefix60

    key = md5_prefix60(F.col(id_col).cast("string"))
    return (
        df.join(F.broadcast(totals), strata_col)  # one row per source: tiny
        # least() ignores NULLs, so an absent weight must be rejected
        # explicitly or it would silently mean keep-everything
        .filter(weight.isNotNull() & (F.col("_stoks") > 0) & (key < cutoff))
        .drop("_stoks")
    )


def pack_sequences(
    df: DataFrame,
    token_budget: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 32,
) -> DataFrame:
    """Assign each document to a training sequence: documents are laid
    out in stable (stratum, id) order, token counts accumulate, and a
    document's ``seq_bin`` is its starting token offset divided by the
    budget — the concat-and-chunk layout pretraining loaders use.

    Integer arithmetic end to end, so Spark and any SQL oracle agree
    exactly.

    Scale shape — two-phase prefix sum: a single
    ``Window.partitionBy(stratum)`` puts an ENTIRE stratum in one task
    (a handful of sources would serialize a 100 TB packing job on ~5
    tasks), so each stratum is cut into ``n_buckets`` contiguous id
    ranges; per-bucket token sums (a tiny ``strata × n_buckets`` table)
    prefix-sum into per-bucket base offsets which broadcast-join back,
    and only the local cumulative sum runs as a window — now over
    ``strata × n_buckets``-way parallelism. Bucketing is pure integer
    arithmetic on the id (deterministic at any cluster size / input
    split). Requires an integral id column; pass ``n_buckets=1`` to get
    the plain one-window-per-stratum plan.
    """
    # coalesce: NULL text would otherwise contribute -1 (sizeOfNull) to
    # the cumulative offsets, shifting every later doc's seq_bin
    txt = F.coalesce(F.col(text_col), F.lit(""))
    # long, not int: the driver gate hashes type-sensitively and any SQL
    # oracle's len()/sum() yields 64-bit — plus per-stratum cumulative
    # counts overflow int32 long before 100 TB
    toks = (
        F.when(F.trim(txt) == "", F.lit(0))
        .otherwise(F.size(F.split(F.trim(txt), r"\s+")))
        .cast("long")
    )
    # `div` is true integer division — a float64 `/` would misplace a
    # document once cumulative offsets pass 2^53 (plausible per-stratum
    # at the 100 TB scale this targets)
    bin_of = lambda start: F.expr(f"{start} div {int(token_budget)}")  # noqa: E731

    # The bucketed plan keys on cast(id as bigint); a non-integral id
    # (e.g. string UUIDs) casts to NULL, NULLs _bkt, and the equi-join
    # with `bases` would silently drop EVERY row. Fall back to the
    # single-window plan, which only needs an orderable id.
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if not isinstance(
        df.schema[id_col].dataType, (ByteType, ShortType, IntegerType, LongType)
    ):
        n_buckets = 1

    if n_buckets <= 1:
        w = Window.partitionBy(strata_col).orderBy(id_col)
        cum = F.sum(toks).over(w)
        return (
            df.withColumn("ws_tokens", toks)
            .withColumn("_start", (cum - toks).cast("long"))
            .withColumn("seq_bin", bin_of("_start"))
            .drop("_start")
        )

    sid = F.col(id_col).cast("long")
    # contiguous id-range buckets: (id - lo) div ceil(range / n_buckets).
    # The divisor form avoids the (id - lo) * n_buckets overflow and
    # keeps every bucket value in [0, n_buckets).
    bounds = df.groupBy(strata_col).agg(
        F.min(sid).alias("_lo"), F.max(sid).alias("_hi")
    )
    tagged = (
        df.withColumn("ws_tokens", toks)
        .join(F.broadcast(bounds), strata_col)  # one row per stratum: tiny
        .withColumn(
            "_bkt",
            F.expr(f"(cast({id_col} as bigint) - _lo) div "
                   f"((_hi - _lo) div {int(n_buckets)} + 1)"),
        )
        .drop("_lo", "_hi")
    )
    partials = tagged.groupBy(strata_col, "_bkt").agg(
        F.sum("ws_tokens").alias("_bsum")
    )
    # prefix over the tiny per-bucket table (strata × n_buckets rows —
    # the one window that may run single-task, on kilobytes)
    wb = (
        Window.partitionBy(strata_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = partials.select(
        strata_col,
        "_bkt",
        F.coalesce(F.sum("_bsum").over(wb), F.lit(0)).alias("_base"),
    )
    wl = Window.partitionBy(strata_col, "_bkt").orderBy(id_col)
    return (
        tagged.join(F.broadcast(bases), [strata_col, "_bkt"])
        .withColumn(
            "_start",
            (F.col("_base") + F.sum("ws_tokens").over(wl) - F.col("ws_tokens"))
            .cast("long"),
        )
        .withColumn("seq_bin", bin_of("_start"))
        .drop("_bkt", "_base", "_start")
    )


def shard_manifest(
    df: DataFrame,
    shard_size: int,
    id_col: str = "doc_id",
    bucket_nibbles: int = 2,
) -> DataFrame:
    """Deterministic training-order sharding — the last step before a
    corpus ships to trainers: every document gets a position in ONE
    global pseudo-random permutation (order by ``(md5(id), id)``) and
    is assigned ``shard_id = rank div shard_size`` /
    ``pos_in_shard = rank % shard_size``. The permutation is a pure
    function of the ids, so any engine, any cluster size, and any
    input split produce byte-identical shard files — re-running the
    job after adding one source re-shuffles deterministically rather
    than depending on task scheduling like ``orderBy(rand())`` would.

    Scale shape — two-phase global rank (the ``pack_sequences``
    pattern, keyed on hash prefixes instead of id ranges): a single
    global ``row_number`` window would sort the corpus on one task, so
    ranks split into (a) per-bucket base offsets — bucket = first
    ``bucket_nibbles`` hex nibbles of the md5, a uniform-by-
    construction prefix range of hash space; counts prefix-sum on a
    tiny 16^nibbles-row table — and (b) a within-bucket ``row_number``
    ordered by (hash, id), which carries only slim (id, hash) rows.
    Global order is preserved because the bucket IS the hash prefix:
    fixed-width hex compares identically lexicographically and
    numerically. Default 256 buckets suits sandbox scale; at 10^12
    rows pass ``bucket_nibbles=5`` (1M buckets ⇒ ~10^6 rows per
    within-bucket sort). Ties are impossible (md5 of distinct ids) but
    ``id_col`` rides second in the order anyway so duplicate ids
    cannot make the output nondeterministic.
    """
    if shard_size <= 0:
        raise ValueError("shard_size must be positive")
    if not 1 <= bucket_nibbles <= 8:
        raise ValueError("bucket_nibbles must be in [1, 8]")
    h = F.md5(F.col(id_col).cast("string"))
    slim = df.select(
        F.col(id_col),
        h.alias("_h"),
        F.conv(F.substring(h, 1, bucket_nibbles), 16, 10)
        .cast("long")
        .alias("_bkt"),
    )
    counts = slim.groupBy("_bkt").agg(F.count("*").alias("_n"))
    # prefix over the tiny per-bucket table (16^nibbles rows — the one
    # window that may run single-task, on kilobytes)
    wb = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    bases = counts.select(
        "_bkt", F.coalesce(F.sum("_n").over(wb), F.lit(0)).alias("_base")
    )
    wl = Window.partitionBy("_bkt").orderBy("_h", id_col)
    ranked = slim.join(F.broadcast(bases), "_bkt").withColumn(
        "_rank", (F.col("_base") + F.row_number().over(wl) - 1).cast("long")
    )
    # `div` not `/`: float division would misplace a row once ranks
    # pass 2^53 (plausible at the 10^12-row design point)
    return ranked.select(
        id_col,
        F.expr(f"_rank div {int(shard_size)}").alias("shard_id"),
        (F.col("_rank") % shard_size).cast("long").alias("pos_in_shard"),
    )


def _dsir_gram_buckets(
    df: DataFrame, id_col: str, text_col: str, m_buckets: int
) -> DataFrame:
    """(doc, hashed-feature-bucket) rows for DSIR: unigrams + bigrams of
    the lowercased whitespace tokenization, bucketed by the portable
    60-bit md5 prefix mod ``m_buckets`` (the paper hashes n-grams into
    10k buckets; the hash function is immaterial as long as both model
    fits use the same one — md5 keeps it SQL-oracle-reproducible).

    Narrow end to end (no shuffle): tokens materialize once per row via
    ``withColumn`` so the bigram lambda does not re-evaluate the split
    per element, then one explode."""
    from docling_translate_spark.functions.hashing import md5_prefix60

    txt = F.trim(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    toks = F.filter(F.split(txt, r"\s+"), lambda t: t != "")
    d = df.select(F.col(id_col).alias("_did"), toks.alias("_toks"))
    bigrams = F.when(
        F.size("_toks") >= 2,
        F.expr(
            "transform(sequence(1, size(_toks) - 1),"
            " i -> concat(_toks[i - 1], ' ', _toks[i]))"
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    # a gram is never NULL, so neither is its bucket; the coalesce only
    # tells the planner so. Otherwise a join infers an isnotnull(_b)
    # filter below one consumer of the bucket counts and not below the
    # other, and AQE cannot reuse their exchange.
    return d.select(
        "_did", F.explode(F.concat(F.col("_toks"), bigrams)).alias("_g")
    ).select(
        "_did",
        F.coalesce(
            F.pmod(md5_prefix60(F.col("_g")), F.lit(m_buckets)), F.lit(0)
        ).alias("_b"),
    )


# public name: the hashed-gram kernel is shared with the NB quality
# classifier (operators/classifier.py) — same tokenization, same
# portable md5 bucketing, so both models are oracle-reproducible
gram_buckets = _dsir_gram_buckets


def dsir_weights(
    raw_df: DataFrame,
    target_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_buckets: int = 1024,
) -> DataFrame:
    """Per-document DSIR log importance weight: how much more likely the
    document is under a hashed bag-of-n-grams model of the TARGET corpus
    than under the same model of the RAW corpus (Xie et al. 2023). Docs
    that look like the target (high ``log_weight``) are kept by
    :func:`dsir_select`; this is the standard pretraining-data selection
    step when a small high-quality exemplar corpus exists.

    Per raw document i with bucket counts c_ib:
    ``log_weight_i = Σ_b c_ib · (ln p_b − ln q_b)`` with add-one
    smoothed bucket probabilities ``p_b = (tc_b+1)/(T+m)`` (target) and
    ``q_b = (rc_b+1)/(R+m)`` (raw). Each per-bucket log-ratio is
    quantized to integer MICRO-units (``round(term·1e6) → BIGINT``), the
    per-doc sum runs in exact integer arithmetic — double summation is
    order-dependent and a round-at-the-end guard still splits when a
    doc's sum lands within FP noise of a grid boundary (observed: 1 doc
    per 5k) — and one final division by 1e6 is a single correctly-
    rounded IEEE op on identical integers, so Spark and a SQL oracle
    agree whenever the quantized buckets agree. Residual cross-engine
    risk: ``ln`` is not guaranteed correctly rounded in either libm, so
    a bucket whose scaled term lands within ~1 ulp (≈1e-8 grid units at
    the micro grid — the reason this is 1e6 and not 1e9, which sat
    ~1000× closer to the boundary) of an x.5 boundary could quantize
    differently; per-bucket, not per-doc, and never observed at any
    tested scale. Output: one row per raw doc —
    ``(id, n_grams BIGINT, log_weight DOUBLE)``; empty docs get
    (0, 0.0).

    Scale shape: the gram explode is narrow and deliberately NOT
    persisted (corpus-sized; cheap to recompute — same trade as
    ``unigram_logprob``); bucket counts are agg-shaped with map-side
    combine (hot buckets collapse per task); the likelihood-ratio table
    is ≤ ``m_buckets`` rows and broadcasts to the scoring join, so the
    only full shuffle is the final per-doc aggregation. No driver
    collect; no per-row Python.
    """
    raw_rows = _dsir_gram_buckets(raw_df, id_col, text_col, m_buckets)
    tgt_rows = _dsir_gram_buckets(target_df, id_col, text_col, m_buckets)

    # ≤ m_buckets rows each; each feeds its total and the ratio join,
    # and AQE runs the shared aggregate's exchange once for both
    rc = raw_rows.groupBy("_b").agg(F.count("*").alias("_rc"))
    tc = tgt_rows.groupBy("_b").agg(F.count("*").alias("_tc"))
    # totals derive from the tiny bucket tables, not a second corpus pass
    r_tot = rc.groupBy().agg(F.coalesce(F.sum("_rc"), F.lit(0)).alias("_R"))
    t_tot = tc.groupBy().agg(F.coalesce(F.sum("_tc"), F.lit(0)).alias("_T"))

    m = float(m_buckets)
    # tc is ≤ m_buckets rows but hides behind an aggregate (unknown
    # stats to the planner) — without the hint this tiny build side
    # plans as a sort-merge join, i.e. two pointless shuffles
    ratio = (
        rc.join(F.broadcast(tc), "_b", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "_b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("_tc"), F.lit(0)) + 1).cast("double")
                        / (F.col("_T").cast("double") + F.lit(m))
                    )
                    - F.log(
                        (F.col("_rc") + 1).cast("double")
                        / (F.col("_R").cast("double") + F.lit(m))
                    )
                )
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("_s"),
        )
    )
    # BIGINT sum is exact and order-independent; |s| ≤ ~40·1e6 and docs
    # hold ≤ ~1e5 grams, so the sum stays far inside 2^53 and the final
    # double division is exact-rounded identically on every engine
    scored = (
        raw_rows.join(F.broadcast(ratio), "_b")
        .groupBy("_did")
        .agg(
            F.count("*").alias("n_grams"),
            (F.sum("_s").cast("double") / F.lit(1e6)).alias("log_weight"),
        )
    )
    return (
        raw_df.select(F.col(id_col).alias("_did"))
        .join(scored, "_did", "left")
        .select(
            F.col("_did").alias(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce(F.col("log_weight"), F.lit(0.0)).alias("log_weight"),
        )
    )


def dsir_select(
    raw_df: DataFrame,
    target_df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_buckets: int = 1024,
) -> DataFrame:
    """Keep the ``k`` raw documents whose DSIR weight says they look
    most like the target corpus. Deterministic substitute for the
    paper's Gumbel-top-k resample: rank by ``(log_weight DESC, id)`` —
    reproducible at any cluster size, and the id tiebreak makes the
    order total.

    ``orderBy().limit(k)`` plans as TakeOrderedAndProject: each task
    keeps its local top-k and only k rows ever reach the driver —
    bounded at any corpus size."""
    w = dsir_weights(raw_df, target_df, id_col, text_col, m_buckets)
    return w.orderBy(F.col("log_weight").desc(), F.col(id_col)).limit(k)


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Sliding token-window chunking — the sample-preparation step
    between raw documents and fixed-context training rows (the HF
    ``return_overflowing_tokens`` layout: windows of ``size`` tokens
    every ``stride`` tokens, adjacent windows overlapping by
    ``size - stride``). Complements ``pack_sequences``: packing joins
    SHORT docs up to the budget, chunking splits LONG docs down to it.

    Window rule (pinned, oracle-replayed): starts are ``0, stride,
    2·stride, …`` while ``start < n_tokens``; a start > 0 is emitted
    only if its window extends coverage beyond the previous window,
    i.e. ``n_tokens - start > size - stride`` — without this, a doc
    whose tail is already fully covered would emit a redundant
    contained chunk (e.g. n=10, size=8, stride=4 emits starts 0 and 4,
    not 8). Tokens are ``\\s+`` splits of the trimmed text with empty
    split artifacts dropped (the module-wide convention — trim strips
    only spaces, so newline/tab-terminated docs would otherwise emit
    phantom tokens); empty/NULL texts emit no chunks.

    Scale shape: one narrow projection + explode — ZERO shuffle, no
    Python; each output row carries only its own window's tokens, so
    the per-row width is bounded by ``size`` regardless of document
    length. With ``stride < size`` the output grows by ``size/stride``×
    over the input tokens — the caller's knob, stated here because at
    100 TB that factor is the whole cost.
    """
    if stride <= 0 or size <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size")
    # drop empty split artifacts (module convention, see dsir/_grams):
    # trim() strips only spaces, so a tab/newline-terminated doc would
    # otherwise grow phantom ''-tokens that inflate n_tokens and shift
    # every window boundary
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("_tk"), F.size(toks).alias("_n")
    )
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(stride)),
        lambda s: (s < F.col("_n"))
        & ((s == 0) | (F.col("_n") - s > size - stride)),
    )
    return (
        base.filter(F.col("_n") > 0)
        .select(F.col(id_col), "_tk", "_n", F.posexplode(starts).alias("chunk_idx", "start_tok"))
        .select(
            id_col,
            F.col("chunk_idx").cast("long"),
            F.col("start_tok").cast("long"),
            F.least(F.lit(size), F.col("_n") - F.col("start_tok"))
            .cast("long")
            .alias("n_tokens"),
            F.array_join(
                F.slice("_tk", F.col("start_tok") + 1, F.lit(size)), " "
            ).alias("chunk_text"),
        )
    )


# --------------------------------------------------------------------
# Deterministic weighted sampling WITHOUT replacement (Efraimidis &
# Spirakis 2006, the A-ES one-pass scheme): each row draws a uniform
# u ∈ (0, 1] and gets key = ln(u)/w; the n LARGEST keys are the sample
# — inclusion odds proportional to weight, no replacement, and (the
# property a distributed curation pipeline actually needs) the whole
# draw reduces to a top-n, so it is one TakeOrdered at any cluster
# size with no sequential reservoir state.
#
# Engine-reproducible randomness: u = (md5_prefix60(id)+1)/2^60 — the
# repo's portable hash, shifted into (0, 1] so ln never sees 0. The
# key is quantized to integer NANO-units (round(ln(u)/w · 1e9) →
# BIGINT) so the ranking never compares engine-local doubles beyond
# the documented ~libm-ulp residual (the dsir/bm25 discipline), and
# ties break on the id — a total, engine-exact order.
#
# Scale shape: one zero-shuffle projection, then TakeOrdered(n) —
# never a global sort; the rank window runs over the n cut rows only.
# Rows with NULL or non-positive weight are excluded (a weight of 0
# means "never sample"; negative weights are meaningless in A-ES).
# --------------------------------------------------------------------

_AES_DENOM = float(1 << 60)  # exact power of two in IEEE double


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``n`` A-ES weighted sample: the input columns plus
    ``key_nano`` (BIGINT sampling key) and ``rank`` (1-based BIGINT).
    Deterministic at any partitioning; fewer than ``n`` eligible rows
    returns them all.

    Weight-magnitude envelope: the nano grid resolves ln(u)/w, and
    ln(u) spans [−41.6, 0] — weights should sit in roughly
    [1e-6, 1e6]. Far above that band the quantized keys collapse into
    a handful of values and the id tie-break dominates (no longer a
    weighted draw); far below it |ln(u)/w·1e9| overflows BIGINT (Spark
    saturates the cast, a SQL twin may raise). A-ES selection is
    SCALE-FREE in exact arithmetic — multiplying every weight by a
    positive constant preserves the key order — so rescale raw weights
    (byte counts, normalized mixture mass) into the band first; it
    changes nothing else."""
    from docling_translate_spark.functions.hashing import md5_prefix60

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    u = (
        md5_prefix60(F.col(id_col).cast("string")) + F.lit(1)
    ).cast("double") / F.lit(_AES_DENOM)
    key = F.round(
        F.log(u) / F.col(weight_col) * F.lit(1e9)
    ).cast("long")
    eligible = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("key_nano", key)
    w = Window.orderBy(F.col("key_nano").desc(), F.col(id_col).asc())
    return (
        eligible.orderBy(F.col("key_nano").desc(), F.col(id_col).asc())
        .limit(n)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )
