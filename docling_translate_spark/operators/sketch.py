"""Engine-portable HyperLogLog distinct-count sketch.

The sketch the brief's custom-operator list names ("a novel sketch"):
cardinality estimation for corpus bookkeeping at 10^12 turns — distinct
texts per source, distinct urls per crawl, distinct users per shard —
where exact ``countDistinct`` means shuffling every distinct value and
a sketch's 4096 registers mean shuffling 4 KB per group.

Portability is the design constraint (the same one the MinHash kernel
solves at ``dedup.py``): Spark's built-in ``approx_count_distinct`` is
a private HLL++ whose registers no other engine can reproduce, so it
can never be value-checked. This sketch derives every register from
``md5`` nibbles — Flajolet et al.'s HLL with a hash both Spark and
DuckDB (and any engine with md5 + string ops) compute bit-identically:

- bucket  = first 3 hex nibbles of md5(value)           (m = 4096, p = 12)
- w       = next 13 nibbles as a 52-bit integer
- rank    = leading-zero count of w within 52 bits, + 1, capped at
  ``RANK_CAP`` = 38 (P[rank > 38] = 2^-38: unobservable, and the cap is
  what makes register sums EXACT-integer below)
- register[bucket] = max(rank) over the group's values, with EVERY
  bucket present (rank 0 for never-hit buckets — a complete axis, same
  trick as the NB classifier's weight table)

The estimator is emitted in deterministic integer form: the harmonic
denominator ``sum(2^-rank)`` is scaled by 2^RANK_CAP so each term
``2^(RANK_CAP - rank)`` is an exact BIGINT (max sum = 4096·2^38 = 2^50
— no overflow, no float accumulation, order-free, so Spark and DuckDB
agree bit-for-bit at any parallelism), and the raw HLL estimate is ONE
double division by that exact integer, floored to BIGINT. The
small-range (linear-counting) correction deliberately stays OUT of the
gate columns: it needs ``ln``, and libm's ``ln`` is not guaranteed
identically rounded across engines — ``v_zero`` is emitted instead so
consumers can apply ``m·ln(m/v_zero)`` when ``estimate < 2.5m``
(:func:`hll_corrected` does exactly that, driver-side).

Registers are max-mergeable: union two register tables and take
``max(rank)`` per (group, bucket) — the committed-snapshot recipe
(:func:`hll_merge`), constant size per group forever.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hll_registers",
    "hll_merge",
    "hll_estimate",
    "hll_distinct",
    "hll_corrected",
    "bloom_build",
    "bloom_merge",
    "bloom_probe",
    "cms_build",
    "cms_merge",
    "cms_estimate",
    "cms_heavy_hitters",
]

M = 4096  # registers (p = 12 bits, nibble-aligned so bucket = 3 hex chars)
RANK_CAP = 38
W_BITS = 52  # 13 hex nibbles
# alpha_m for m >= 128 (Flajolet et al. 2007); the whole numerator of the
# raw estimate is ONE Python double so both engines divide the same value
ALPHA = 0.7213 / (1.0 + 1.079 / M)
EST_NUMERATOR = ALPHA * M * M * float(2**RANK_CAP)


def _rank(col) -> "F.Column":
    """Rank = 52-bit leading zeros of the md5 tail + 1, capped.

    ``length(bin(w))`` is the exact bit length (both engines render
    binary without leading zeros; bin(0) = '0' has length 1, so w = 0
    lands on 52 and the cap folds it to RANK_CAP — no special case).
    """
    h = F.md5(col)
    w = F.conv(F.substring(h, 4, 13), 16, 10).cast("long")
    return F.least(
        F.lit(W_BITS + 1) - F.length(F.bin(w)), F.lit(RANK_CAP)
    ).alias("rank")


def hll_registers(
    df: DataFrame, value_col: str, group_cols: Sequence[str]
) -> DataFrame:
    """Dense register table: one row per (group, bucket) for ALL
    ``M`` buckets, ``rank`` = max observed (0 for never-hit buckets).

    NULL values hash to NULL and are excluded (a NULL contributes no
    distinct value). The aggregation is map-side combined — at any
    scale each task emits at most M rows per group before the exchange.
    """
    group_cols = list(group_cols)
    h = F.md5(F.col(value_col))
    sparse = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            F.conv(F.substring(h, 1, 3), 16, 10).cast("long").alias("bucket"),
            _rank(F.col(value_col)),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rank").alias("rank"))
    )
    axis = (
        df.select(*group_cols)
        .distinct()
        .crossJoin(F.broadcast(df.sparkSession.range(M).select(F.col("id").alias("bucket"))))
    )
    return axis.join(sparse, [*group_cols, "bucket"], "left").select(
        *group_cols, "bucket", F.coalesce("rank", F.lit(0)).cast("long").alias("rank")
    )


def hll_merge(*register_tables: DataFrame) -> DataFrame:
    """Merge register tables (same schema) by max rank per (group,
    bucket) — the incremental-snapshot path: keep one register table
    per committed corpus, union with each ingest batch's table, merge.
    Lossless w.r.t. computing the sketch over the unioned raw data."""
    if not register_tables:
        raise ValueError("need at least one register table")
    u = register_tables[0]
    for t in register_tables[1:]:
        u = u.unionByName(t)
    keys = [c for c in u.columns if c != "rank"]
    return u.groupBy(*keys).agg(F.max("rank").alias("rank"))


def hll_estimate(registers: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Per-group estimate columns, all deterministic integers:

    - ``v_zero``: untouched registers (input to the small-range
      correction, applied driver-side by :func:`hll_corrected`)
    - ``hll_units``: exact-integer harmonic denominator
      ``sum(2^(RANK_CAP - rank))`` (BIGINT, order-free)
    - ``hll_estimate``: ``floor(EST_NUMERATOR / hll_units)`` — the raw
      HLL estimate, one IEEE division of identical operands in any
      engine
    """
    group_cols = list(group_cols)
    # 2^(cap - rank) via pow: exact in double up to 2^52, exact cast
    units = F.pow(F.lit(2.0), F.lit(RANK_CAP) - F.col("rank")).cast("long")
    return (
        registers.groupBy(*group_cols)
        .agg(
            F.sum(F.when(F.col("rank") == 0, 1).otherwise(0)).alias("v_zero"),
            F.sum(units).alias("hll_units"),
        )
        .select(
            *group_cols,
            F.col("v_zero").cast("long").alias("v_zero"),
            F.col("hll_units").cast("long").alias("hll_units"),
            F.floor(F.lit(EST_NUMERATOR) / F.col("hll_units"))
            .cast("long")
            .alias("hll_estimate"),
        )
    )


def hll_distinct(
    df: DataFrame, value_col: str, group_cols: Sequence[str]
) -> DataFrame:
    """Registers + estimate in one call (fresh sketch over ``df``)."""
    return hll_estimate(hll_registers(df, value_col, group_cols), group_cols)


# --------------------------------------------------------------------
# Portable Bloom membership filter
#
# The companion sketch to HLL above: HLL answers "how many distinct",
# the Bloom filter answers "have we (maybe) seen THIS one" in constant
# space — the membership primitive a 10^12-turn pipeline needs wherever
# the exact seen-set is too big to broadcast but a 128 KB bitmap is
# not: crawl-frontier "URL already fetched", snapshot "fingerprint
# already committed" prechecks ahead of the exact anti-join.
#
# Same portability constraint as HLL: every position derives from md5
# nibbles so any engine reproduces the filter bit-for-bit.
#
# - m = 2^20 bits (BLOOM_BITS); each hash position is FIVE md5 hex
#   nibbles read directly as a 20-bit integer — no modulo, so there is
#   no modulo bias and no cross-engine integer-division question.
# - k ≤ 6 positions per value, from DISJOINT 5-nibble slices of the
#   one md5 (30 of 32 nibbles at k = 6) — independent enough for the
#   standard fpr formula (1 - e^(-kn/m))^k: ~0.24 % at n = 65k, k = 4.
# - The bitmap is a SPARSE relation (word BIGINT, mask BIGINT): 32-bit
#   words so every mask = 2^bit is a positive BIGINT in any engine
#   (no sign-bit trap at bit 63), bit_or-aggregated, absent word = 0.
#   Map-side combine collapses each task's positions before the
#   exchange; the filter is ≤ 32,768 rows (≈0.5 MB) per group forever.
# - Mergeable: union + bit_or per word (``bloom_merge``) — the same
#   committed-snapshot recipe as ``hll_merge``.
# - NO false negatives (an inserted value always probes 1), so a bloom
#   precheck ahead of an exact join is LOSSLESS for the exact result.
# --------------------------------------------------------------------

BLOOM_BITS = 1 << 20  # m (5 hex nibbles per position, read exactly)
BLOOM_K = 4
_BLOOM_MAX_K = 6  # 6 disjoint 5-nibble slices fit md5's 32 nibbles
BLOOM_WORD_BITS = 32  # masks stay positive BIGINTs in every engine
# single source for the word split: shift derives from the word width
# so operator, oracle, and test replay cannot desync if it changes
_BLOOM_WORD_SHIFT = BLOOM_WORD_BITS.bit_length() - 1
if 1 << _BLOOM_WORD_SHIFT != BLOOM_WORD_BITS:
    raise AssertionError("BLOOM_WORD_BITS must be a power of two")
# k is carried as column metadata on ``mask`` so a probe with a
# different k than the build's is rejected instead of silently
# producing false negatives (positions never inserted probe 0)
_BLOOM_META_K = "bloom_k"


def _bloom_positions(col, k: int) -> list:
    """k 20-bit positions from disjoint 5-nibble slices of one md5."""
    if not 1 <= k <= _BLOOM_MAX_K:
        raise ValueError(f"k must be in [1, {_BLOOM_MAX_K}], got {k}")
    h = F.md5(col)
    return [
        F.conv(F.substring(h, 1 + 5 * i, 5), 16, 10).cast("long")
        for i in range(k)
    ]


def _word(pos) -> "F.Column":
    return F.shiftright(pos, _BLOOM_WORD_SHIFT)  # pos // BLOOM_WORD_BITS


def _flt_k(flt: DataFrame):
    """k recorded on a filter's mask column at build time (None for
    filters that lost metadata through a transformation)."""
    md = flt.schema["mask"].metadata or {}
    return md.get(_BLOOM_META_K)


def _mask(pos) -> "F.Column":
    # 2^(pos % 32): exact in double up to 2^52, exact BIGINT cast
    return F.pow(F.lit(2.0), pos % BLOOM_WORD_BITS).cast("long")


def bloom_build(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    k: int = BLOOM_K,
) -> DataFrame:
    """Sparse Bloom bitmap over ``value_col``: one row per touched
    (group, word) with ``mask`` = bit_or of the set bits. NULL values
    insert nothing (md5(NULL) is NULL — same convention as HLL); NULL
    GROUP keys are a real group (groupBy keeps them), and
    :func:`bloom_probe` matches them null-safely, so values inserted
    under a NULL group never false-negative. ``k`` is recorded as
    column metadata so a mismatched probe is rejected."""
    group_cols = list(group_cols)
    pos_rows = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            F.explode(
                F.array(*_bloom_positions(F.col(value_col), k))
            ).alias("_pos"),
        )
    )
    return (
        pos_rows.select(
            *group_cols,
            _word(F.col("_pos")).alias("word"),
            _mask(F.col("_pos")).alias("mask"),
        )
        .groupBy(*group_cols, "word")
        .agg(F.bit_or("mask").alias("mask"))
        .withMetadata("mask", {_BLOOM_META_K: k})
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Merge sparse bitmaps (same schema, same m/k) by bit_or per
    (group, word) — lossless vs building over the unioned raw data.
    Inputs built with different ``k`` are rejected (their bitmaps are
    not comparable); the common ``k`` is re-stamped on the output."""
    if not filters:
        raise ValueError("need at least one filter")
    ks = {_flt_k(t) for t in filters} - {None}
    if len(ks) > 1:
        raise ValueError(f"cannot merge filters built with different k: {ks}")
    u = filters[0]
    for t in filters[1:]:
        u = u.unionByName(t)
    keys = [c for c in u.columns if c != "mask"]
    merged = u.groupBy(*keys).agg(F.bit_or("mask").alias("mask"))
    if ks:
        merged = merged.withMetadata("mask", {_BLOOM_META_K: ks.pop()})
    return merged


def bloom_probe(
    candidates: DataFrame,
    flt: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    k: int = BLOOM_K,
    out_col: str = "bloom_maybe",
) -> DataFrame:
    """Membership probe: ``out_col`` = 1 iff ALL k bits of
    ``value_col`` are set in ``flt`` ("maybe seen" — false positives
    possible at the fpr above, false negatives never). NULL values
    probe 0.

    Scale shape: k broadcast LEFT joins on the word key — the
    candidate side never shuffles and never aggregates, so the probe
    is a map-side-only decoration at any corpus size (the filter is
    ≤ 0.5 MB per group by construction). ``k`` must equal the build's:
    when the filter still carries its build-time metadata a mismatch
    raises (probing positions never inserted would false-negative).
    Group keys match NULL-SAFELY, so NULL-group inserts probe 1.
    """
    group_cols = list(group_cols)
    built_k = _flt_k(flt)
    if built_k is not None and built_k != k:
        raise ValueError(
            f"filter was built with k={built_k}, probe requested k={k}"
        )
    positions = _bloom_positions(F.col(value_col), k)
    out = candidates
    checks = []
    for i, pos in enumerate(positions):
        out = out.withColumn(f"_bw{i}", _word(pos)).withColumn(
            f"_bm{i}", _mask(pos)
        )
        fi = flt.select(
            *[F.col(g).alias(f"_bg{i}_{j}") for j, g in enumerate(group_cols)],
            F.col("word").alias(f"_bfw{i}"),
            F.col("mask").alias(f"_bfm{i}"),
        )
        cond = out[f"_bw{i}"] == fi[f"_bfw{i}"]
        for j, g in enumerate(group_cols):
            # null-safe: a NULL group key is a real group in the build
            cond = cond & out[g].eqNullSafe(fi[f"_bg{i}_{j}"])
        out = out.join(F.broadcast(fi), cond, "left").drop(
            f"_bfw{i}", *[f"_bg{i}_{j}" for j in range(len(group_cols))]
        )
        checks.append(
            F.coalesce(F.col(f"_bfm{i}"), F.lit(0).cast("long"))
            .bitwiseAND(F.col(f"_bm{i}"))
            == F.col(f"_bm{i}")
        )
    hit = checks[0]
    for c in checks[1:]:
        hit = hit & c
    out = out.withColumn(
        out_col,
        F.when(F.col(value_col).isNull(), F.lit(0))
        .otherwise(hit.cast("int"))
        .cast("long"),
    )
    drop = [f"_bw{i}" for i in range(k)] + [f"_bm{i}" for i in range(k)]
    drop += [f"_bfm{i}" for i in range(k)]
    return out.drop(*drop)


# --------------------------------------------------------------------
# Portable count-min sketch (heavy hitters)
#
# The third sketch of the family: HLL answers "how many distinct",
# Bloom answers "seen this?", count-min answers "ABOUT HOW OFTEN have
# we seen this" in constant space — the heavy-hitter primitive behind
# boilerplate discovery (which exact sentences/templates dominate a
# crawl), hot-key detection ahead of a skew-prone join, and stop-token
# lists, all without shuffling one row per distinct value.
#
# Same portability constraint as HLL/Bloom: every cell position derives
# from md5 nibbles, every counter is an exact BIGINT sum, so any engine
# reproduces the sketch bit-for-bit and estimates are deterministic.
#
# - depth d = CMS_D rows; row j's column is FOUR md5 hex nibbles at
#   disjoint offset 4j read exactly as a 16-bit integer (w = 2^16
#   columns, no modulo bias). d <= 8 fits md5's 32 nibbles.
# - The sketch is a SPARSE relation (group, row, col, cnt BIGINT):
#   sum-aggregated, absent cell = 0, map-side combine collapses each
#   task's occurrences before the exchange; <= d * 65,536 rows (~2 MB)
#   per group forever, regardless of corpus size.
# - estimate(v) = min over rows of cell(j, col_j(v)) — NEVER an
#   underestimate (each cell sums v's true count plus nonneg collision
#   mass), within eps*N of truth with prob 1-delta for d = ln(1/delta),
#   eps = e/w (Cormode & Muthukrishnan 2005).
# - Mergeable: union + sum per (group, row, col) (``cms_merge``) — the
#   committed-snapshot recipe shared with hll_merge/bloom_merge.
# - Weighted inserts supported (weight_col) for char-volume heavy
#   hitters rather than occurrence counts.
# --------------------------------------------------------------------

CMS_D = 4  # depth (rows); 4 disjoint 4-nibble slices of one md5
CMS_W = 1 << 16  # width: 4 hex nibbles per column index, read exactly
_CMS_MAX_D = 8  # 8 disjoint 4-nibble slices fit md5's 32 nibbles
# d is carried as column metadata on ``cnt`` (same contract as the
# Bloom filter's k): estimating with a different d than the build's
# would probe rows that were never summed and silently return 0
_CMS_META_D = "cms_d"


def _cms_cols(col, d: int) -> list:
    """d 16-bit column indexes from disjoint 4-nibble md5 slices."""
    if not 1 <= d <= _CMS_MAX_D:
        raise ValueError(f"d must be in [1, {_CMS_MAX_D}], got {d}")
    h = F.md5(col)
    return [
        F.conv(F.substring(h, 1 + 4 * j, 4), 16, 10).cast("long")
        for j in range(d)
    ]


def _cms_d(sketch: DataFrame):
    md = sketch.schema["cnt"].metadata or {}
    return md.get(_CMS_META_D)


def cms_build(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    weight_col: str | None = None,
    d: int = CMS_D,
) -> DataFrame:
    """Sparse count-min sketch over ``value_col``: one row per touched
    (group, row, col) with ``cnt`` = total inserted weight (1 per
    occurrence unless ``weight_col``). NULL values insert nothing
    (md5(NULL) is NULL — the family convention); NULL weights count 0.
    ``d`` is recorded as column metadata so a mismatched estimate call
    is rejected."""
    group_cols = list(group_cols)
    w = (
        F.coalesce(F.col(weight_col).cast("long"), F.lit(0))
        if weight_col
        else F.lit(1).cast("long")
    )
    cols = _cms_cols(F.col(value_col), d)
    rows = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols,
        F.posexplode(F.array(*cols)).alias("row", "col"),
        w.alias("_w"),
    )
    return (
        rows.groupBy(*group_cols, "row", "col")
        .agg(F.sum("_w").alias("cnt"))
        .withMetadata("cnt", {_CMS_META_D: d})
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sparse sketches (same schema, same d/w) by summing per
    (group, row, col) — lossless vs building over the unioned raw
    data. Inputs built with different ``d`` are rejected."""
    if not sketches:
        raise ValueError("need at least one sketch")
    ds = {_cms_d(t) for t in sketches} - {None}
    if len(ds) > 1:
        raise ValueError(f"cannot merge sketches built with different d: {ds}")
    u = sketches[0]
    for t in sketches[1:]:
        u = u.unionByName(t)
    keys = [c for c in u.columns if c != "cnt"]
    merged = u.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))
    if ds:
        merged = merged.withMetadata("cnt", {_CMS_META_D: ds.pop()})
    return merged


def cms_estimate(
    candidates: DataFrame,
    sketch: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    d: int = CMS_D,
    out_col: str = "cms_count",
) -> DataFrame:
    """Frequency estimate: ``out_col`` = min over the d rows of the
    value's cell counters (absent cell = 0; never an underestimate of
    the inserted weight). NULL values estimate 0.

    Scale shape: d broadcast LEFT joins on the (row, col) key — the
    candidate side never shuffles or aggregates, so the estimate is a
    map-side-only decoration at any corpus size (the sketch is ~2 MB
    per group by construction). ``d`` must equal the build's: when the
    sketch carries its build-time metadata a mismatch raises. Group
    keys match NULL-SAFELY (a NULL group is a real group)."""
    group_cols = list(group_cols)
    built_d = _cms_d(sketch)
    if built_d is not None and built_d != d:
        raise ValueError(
            f"sketch was built with d={built_d}, estimate requested d={d}"
        )
    cols = _cms_cols(F.col(value_col), d)
    out = candidates
    cells = []
    for j, cexpr in enumerate(cols):
        out = out.withColumn(f"_cc{j}", cexpr)
        sj = sketch.select(
            *[F.col(g).alias(f"_cg{j}_{i}") for i, g in enumerate(group_cols)],
            F.col("row").alias(f"_cr{j}"),
            F.col("col").alias(f"_ccol{j}"),
            F.col("cnt").alias(f"_ccnt{j}"),
        ).filter(F.col(f"_cr{j}") == j)
        cond = out[f"_cc{j}"] == sj[f"_ccol{j}"]
        for i, g in enumerate(group_cols):
            cond = cond & out[g].eqNullSafe(sj[f"_cg{j}_{i}"])
        out = out.join(F.broadcast(sj), cond, "left").drop(
            f"_cr{j}",
            f"_ccol{j}",
            *[f"_cg{j}_{i}" for i in range(len(group_cols))],
        )
        cells.append(F.coalesce(F.col(f"_ccnt{j}"), F.lit(0).cast("long")))
    out = out.withColumn(
        out_col,
        F.when(F.col(value_col).isNull(), F.lit(0).cast("long")).otherwise(
            F.least(*cells) if len(cells) > 1 else cells[0]
        ),
    )
    return out.drop(
        *[f"_cc{j}" for j in range(d)], *[f"_ccnt{j}" for j in range(d)]
    )


def cms_heavy_hitters(
    df: DataFrame,
    value_col: str,
    min_count: int,
    group_cols: Sequence[str] = (),
    d: int = CMS_D,
) -> DataFrame:
    """One-call heavy hitters: build the sketch over ``df``, estimate
    every distinct value, keep those with ``cms_count >= min_count``.
    Guaranteed superset of the true heavy hitters (no-underestimate
    property); collision mass can admit extras near the cut, all
    deterministic.

    At production scale the two passes are the point: pass one reduces
    the corpus to a ~2 MB sketch (map-side combine), pass two decorates
    only DISTINCT values via broadcast joins — the full corpus is never
    shuffled on the value key at width; a direct groupBy-count would
    move every (value, count) pair to one exchange."""
    # each of the d cell joins would re-run the sketch's final aggregate
    # from the reused exchange: that measured more CPU than the cache
    sketch = cms_build(df, value_col, group_cols, d=d).cache()
    cand = df.select(*group_cols, value_col).distinct()
    est = cms_estimate(cand, sketch, value_col, group_cols, d=d)
    return est.filter(F.col("cms_count") >= min_count)


def hll_corrected(row_estimate: int, v_zero: int) -> float:
    """Driver-side small-range correction (linear counting) for one
    group's emitted columns: HLL's raw estimator biases high under
    ~2.5m distinct values; when in that range and some registers are
    untouched, ``m * ln(m / v_zero)`` is the standard replacement.
    Kept out of the distributed plan ON PURPOSE: libm ``ln`` is not
    identically rounded across engines, and the gate output must be."""
    if row_estimate <= 2.5 * M and v_zero > 0:
        return M * math.log(M / v_zero)
    return float(row_estimate)
