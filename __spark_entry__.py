"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship per-turn main-content extraction over
transcripts derived from sf0.001 ``documents``. ``queries()`` exposes the
implemented operators from SURVEY.md §2; ``oracle_sql()`` gives the
DuckDB-equivalent SQL for the SQL-expressible ones (others get the
driver's rows-only check).

Column-name discipline: every computed column is aliased identically in
the Spark query and the oracle SQL.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

# Boilerplate line battery shared by the Spark query and the DuckDB oracle
# (subset of classify.BOILERPLATE_LINE_REGEX that is regex-dialect neutral).
_BOILER_SQL_RE = r"^\s*([Pp]age\s+\d+(\s+of\s+\d+)?|\d+|[-=_*]{3,})\s*$"
_FORMULA_SQL_RE = r"\\[a-zA-Z]+|\^\{|_\{|&="
# DuckDB twin of the dedup kernels' ``str(text or "").lower().split()``
# token list: split on Python's ASCII whitespace and drop empty pieces.
# trim() strips only spaces and RE2's \s misses \x0b and \x1c-\x1f, so
# neither may stand in. Non-ASCII whitespace and lower() still differ.
_PY_TOKENS_SQL = (
    r"list_filter(string_split_regex(lower(coalesce(text, '')), "
    r"'[\t-\r\x1c-\x1f ]+'), t -> t <> '')"
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: segment → classify → dedup → map → join-back → reassemble
    per turn, over sf0.001-derived transcripts."""
    from docling_translate_spark.operators.extract import (
        ExtractConfig,
        extract_turns_fused,
    )
    from docling_translate_spark.sources.tables import transcripts_from_documents

    transcripts = transcripts_from_documents(spark, "/root/testdata/sf0.001")
    return extract_turns_fused(transcripts, ExtractConfig(ordered=True))


# ---------------------------------------------------------------------------
# queries — each callable: (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------


def _spread(df: DataFrame) -> DataFrame:
    # The sandbox tables are single sub-megabyte files, so the scan is
    # ONE task and every CPU-dense narrow stage downstream (regex
    # batteries, shingling, higher-order array exprs) serializes on it.
    # Repartition to cores — the shuffled payload is <1 MB. Conditional
    # (r2 verdict #4): on a cluster the scan already yields >= cores
    # partitions and the full shuffle would be pure waste, so skip it.
    # This is the one place where a gate query's plan depends on the
    # core count: at defaultParallelism 1 no round-robin exchange is
    # added, which changes 71 of the 82 lines of plan facts. So
    # tests/data/plan_facts.tsv is pinned to the tier-1 session.
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    return df.repartition(cores)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def q_p1_nonempty_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 non-empty text filter + grouped count (SURVEY §2.2/§2.5)."""
    return (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull() & (F.trim("text") != ""))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


def q_norm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style normalized exact dedup (SURVEY §2.25): every doc gets
    two decorated variants that differ ONLY in representation — accents
    (via an erasable translate), case-free punctuation chrome, and
    digit runs — so the normalizer must collapse each pair to one
    fingerprint. Emits per-variant key + group stats; the oracle
    replays decoration and every normalization step verbatim."""
    from docling_translate_spark.operators.text_analysis import norm_fingerprint

    d = _docs(spark, sf_dir)
    a = d.select(
        F.col("doc_id"), F.concat(F.col("text"), F.lit(" 12, 34!")).alias("text")
    )
    b = d.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.lit(" «"),
            F.translate(F.col("text"), "ao", "áó"),
            F.lit("» 98?? 76 "),
        ).alias("text"),
    )
    nf = norm_fingerprint(a.unionAll(b)).select("doc_id", "norm_fp")
    groups = nf.groupBy("norm_fp").agg(
        F.min("doc_id").alias("rep_id"), F.count("*").alias("n_dups")
    )
    return nf.join(groups, "norm_fp").select(
        "doc_id",
        "norm_fp",
        "rep_id",
        "n_dups",
        (F.col("doc_id") == F.col("rep_id")).cast("int").alias("is_survivor"),
    )


def q_a1_distinct_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 exact dedup + counts (ref core.py:453-455)."""
    return _docs(spark, sf_dir).agg(
        F.count("*").alias("total_texts"),
        F.countDistinct("text").alias("unique_texts"),
    )


def q_a3_char_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 sum-of-lengths per group (ref core.py:489)."""
    return (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.sum(F.length("text")).alias("total_chars"),
            F.count("*").alias("n_docs"),
        )
    )


def q_p3_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 boilerplate drop: decorate each doc with page chrome, then strip
    chrome lines (ref html_generator.py:617-619)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("Page "),
            ((F.col("doc_id") % 40) + 1).cast("string"),
            F.lit(" of 40\n"),
            F.col("text"),
            F.lit("\n---\n42"),
        ).alias("decorated"),
    )
    kept = F.filter(
        F.split("decorated", "\n"),
        lambda ln: ~F.regexp_like(ln, F.lit(_BOILER_SQL_RE)),
    )
    return d.select(
        "doc_id",
        F.array_join(kept, "\n").alias("clean_text"),
        (F.size(F.split("decorated", "\n")) - F.size(kept))
        .cast("long")
        .alias("n_dropped"),
    )


def q_p4_formula_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 formula predicate over decorated payloads (ref html_generator.py:20-45)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" x^{2} &= \\frac{a}{b}")),
        )
        .otherwise(F.col("text"))
        .alias("payload"),
    )
    return d.select(
        "doc_id",
        F.regexp_like("payload", F.lit(_FORMULA_SQL_RE))
        .cast("int")
        .alias("is_formula"),
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot-ingest dedup (continuous-crawl recipe):
    snapshot = doc_id % 3 == 0; the batch carries four deterministic
    branches — fresh docs (admit), exact snapshot copies under new ids
    (stage-2 drop), within-batch duplicates (stage-1 drop, min id
    survives), and tailed near-dup copies of snapshot docs (stage-3
    drop). Word-salad corpus ⇒ 4-gram shingles + stop-shingle cap 20 +
    threshold 0.3, the dedup_ngram_jaccard gate convention (organic
    cross near-dups also flag — the oracle mirrors every decision).
    The query builds the committed index once (build_ingest_index),
    then runs the index-fed probe — the operator's only path. The
    NOT-EXISTS CTE oracle recomputes every stage from the raw snapshot,
    the same recompute the pytest reference in
    tests/test_dedup_incremental.py runs."""
    from docling_translate_spark.operators.dedup import (
        build_ingest_index,
        dedup_incremental,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    seen = d.filter(F.col("doc_id") % 3 == 0)
    fresh = d.filter(F.col("doc_id") % 3 != 0)
    batch = (
        fresh.unionAll(
            seen.filter(F.col("doc_id") % 2 == 0).select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
            )
        )
        .unionAll(
            fresh.filter(F.col("doc_id") % 5 == 1).select(
                (F.col("doc_id") + 20_000_000).alias("doc_id"), "text"
            )
        )
        .unionAll(
            seen.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 30_000_000).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" xq"), F.col("doc_id").cast("string")
                ).alias("text"),
            )
        )
    )
    idx = build_ingest_index(seen, n=4, max_bucket=20)
    out = dedup_incremental(batch, idx, threshold=0.3)
    return out.select("doc_id", F.md5("text").alias("fp"))


def q_w1_rownum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/A7 stable ordering + per-kind numbering via row_number
    (ref core.py:422, utils.py:64-66)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("long").alias("turn_rank"),
    )


def q_w2_change_marker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 page-change marker analog: lag-based change detection
    (ref html_generator.py:538-545)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = _events(spark, sf_dir).withColumn(
        "prev_type", F.lag("event_type").over(w)
    )
    return (
        lagged.filter(
            F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_changes"))
    )


def q_j2_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 broadcast equi-join + grouped agg (ref html_generator.py:565-567).

    Decimal sums keep Spark and DuckDB bit-identical."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
            "inner",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total_price"),
        )
        # re-narrow the widened sum so both engines emit DECIMAL(18,2)
        .withColumn("total_price", F.col("total_price").cast("decimal(18,2)"))
    )


def q_j3_left_join_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 probe-with-identity-fallback: left join + coalesce
    (ref html_generator.py:692)."""
    docs = _docs(spark, sf_dir)
    # map side: only 'en' texts get a "translation" (markered)
    map_df = (
        docs.filter(F.col("lang") == "en")
        .select("text")
        .distinct()
        .withColumn("mapped", F.concat(F.lit("<<"), F.col("text"), F.lit(">>")))
    )
    return (
        docs.join(F.broadcast(map_df), on="text", how="left")
        .select(
            "doc_id",
            F.coalesce("mapped", "text").alias("out_text"),
        )
    )


def q_o1_longest_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 longest-first ordering, top-k (ref text_html_generator.py:849-853)."""
    return (
        _docs(spark, sf_dir)
        .orderBy(F.length("text").desc(), F.col("doc_id"))
        .limit(10)
        .select("doc_id", F.length("text").cast("long").alias("text_len"))
    )


_ASOF_BUCKET_US = 3_600_000_000  # 1-hour buckets, the skew knob


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (engine addition, operators/asof.py): attach the
    latest preceding 'click' (payload: event id + integer cents) to
    every 'purchase' per user, backward-inclusive at micros precision.
    Full DuckDB oracle via its native ASOF LEFT JOIN over the identical
    pre-aggregated build side (one row per (user, ts) by max payload
    struct — removes DuckDB's unspecified same-ts winner, so both
    engines are deterministic). All-BIGINT output (epoch micros +
    cents): nothing type-fragile reaches the gate hash."""
    from docling_translate_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    t = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", t.alias("t")
    )
    build = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        t.alias("t"),
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return asof_join(
        probe, build, "user_id", "t", ["event_id", "cents"],
        bucket_width=_ASOF_BUCKET_US,
    )


def _ws_tokens(d: DataFrame) -> DataFrame:
    """Whitespace token rows (doc_id, tok), empty tokens dropped — the
    ONE tokenization shared by q_hll_distinct and q_bloom_filter so
    the two queries' definition of "token" cannot drift (SQL twin:
    ``_TOKEN_ROWS_SQL``, shared by both oracles)."""
    return d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HLL cardinality sketch (engine addition,
    operators/sketch.py): per-source distinct-text registers plus a
    global distinct-token sketch (higher cardinality exercises the
    rank distribution). Every emitted column is an exact integer —
    registers from md5 nibbles, harmonic denominator as a BIGINT unit
    sum — so the DuckDB oracle reproduces the sketch bit-for-bit."""
    from docling_translate_spark.operators.sketch import hll_distinct

    d = _docs(spark, sf_dir)
    per_src = hll_distinct(d, "text", ["source"]).select(
        F.lit("text").alias("scope"),
        "source",
        "v_zero",
        "hll_units",
        "hll_estimate",
    )
    toks = _ws_tokens(d).select(F.lit("*").alias("source"), "tok")
    tok_sk = hll_distinct(toks, "tok", ["source"]).select(
        F.lit("tokens").alias("scope"),
        "source",
        "v_zero",
        "hll_units",
        "hll_estimate",
    )
    return per_src.unionByName(tok_sk)


def q_embeddup_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine + LSH embedding near-dup pairs (spec: MEMBER_BATTERIES)."""
    return _battery(spark, sf_dir, "embeddup_battery")


def q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom membership sketch (engine addition,
    operators/sketch.py): build the sparse md5-slice bitmap over the
    distinct tokens of every third document, then probe the distinct
    tokens of the WHOLE corpus against it. Both the filter words
    (word, bit_or mask) and the per-token maybe-bit are emitted, so
    the DuckDB oracle value-checks the bitmap bit-for-bit AND the
    probe semantics including any false positives (deterministic —
    both engines replay the identical md5 slices)."""
    from docling_translate_spark.operators.sketch import (
        bloom_build,
        bloom_probe,
    )

    d = _docs(spark, sf_dir)
    toks = _ws_tokens(d)
    build_toks = (
        toks.filter(F.col("doc_id") % 3 == 0).select("tok").distinct()
    )
    # five consumers (words branch + k probe broadcasts) of the
    # ≤32k-row bitmap; the probes share one reused broadcast of it
    flt = bloom_build(build_toks, "tok")
    words = flt.select(
        F.lit("w").alias("part"),
        "word",
        "mask",
        F.lit(None).cast("string").alias("tok"),
        F.lit(None).cast("long").alias("maybe"),
    )
    probed = bloom_probe(toks.select("tok").distinct(), flt, "tok").select(
        F.lit("p").alias("part"),
        F.lit(None).cast("long").alias("word"),
        F.lit(None).cast("long").alias("mask"),
        "tok",
        F.col("bloom_maybe").alias("maybe"),
    )
    return words.unionByName(probed)


def q_centroid_dots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group embedding-centroid inner products (engine addition,
    operators/similarity.py::group_centroid_dots): vectors fan into 8
    md5-free deterministic groups (vec_id mod 8) and every pairwise
    centroid dot plus both self-dots is emitted as exact BIGINTs
    (quantize → integer milli-means → integer dots; no FP anywhere
    after the proven LSH grid quantization)."""
    from docling_translate_spark.operators.similarity import (
        group_centroid_dots,
    )

    e = _emb(spark, sf_dir).select(
        F.concat(F.lit("g"), (F.col("vec_id") % 8).cast("string")).alias(
            "source"
        ),
        "embedding",
    )
    return group_centroid_dots(e)


def q_cms_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable count-min-sketch heavy hitters (engine addition,
    operators/sketch.py): build the d×2^16 token-frequency sketch over
    the whole corpus, estimate every distinct token via the d broadcast
    cell joins, keep tokens whose estimate is ≥1% of all token
    occurrences. ``n_true`` (exact count) rides along so the oracle
    value-checks the no-underestimate property cell-for-cell — any
    deterministic md5-collision overcount must match exactly too."""
    from docling_translate_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    toks = _ws_tokens(_docs(spark, sf_dir))
    # two consumers of the token rows (sketch build + truth counts):
    # persist so the scan/split lineage runs once
    toks = toks.persist()
    sketch = cms_build(toks, "tok")
    truth = toks.groupBy("tok").agg(F.count("*").cast("long").alias("n_true"))
    est = cms_estimate(truth, sketch, "tok")
    tot = toks.agg(F.count("*").alias("_tot"))
    return (
        est.crossJoin(F.broadcast(tot))
        .filter(F.col("cms_count") * 100 >= F.col("_tot"))
        .select("tok", "cms_count", "n_true")
    )


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order sharding (engine addition,
    operators/sampling.py): every doc's position in the one global
    md5-permutation, cut into 64-doc shards, joined with the per-shard
    manifest rollup (doc/char counts) a trainer's data loader reads."""
    from docling_translate_spark.operators.sampling import shard_manifest

    d = _docs(spark, sf_dir)
    # assignments feed two consumers (rollup + final decoration); AQE
    # runs the two-phase rank's exchanges once for both
    asg = shard_manifest(d, shard_size=64)
    lens = d.select(
        "doc_id", F.coalesce(F.length("text"), F.lit(0)).alias("_len")
    )
    summary = (
        asg.join(lens, "doc_id")
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("shard_docs"),
            F.sum("_len").cast("long").alias("shard_chars"),
        )
    )
    return asg.join(F.broadcast(summary), "shard_id").select(
        "doc_id", "shard_id", "pos_in_shard", "shard_docs", "shard_chars"
    )


def q_nearpair_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH + n-gram-Jaccard near-dup pairs (spec: MEMBER_BATTERIES)."""
    return _battery(spark, sf_dir, "nearpair_battery")


def q_sentloc_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 sentence counts + i18n localization (spec: MEMBER_BATTERIES)."""
    return _battery(spark, sf_dir, "sentloc_battery")


def _sanitized_body() -> Column:
    """The sanitized-body trick (shared by extract_turns /
    a6_extraction_rollup / curation_pipeline oracles): lowercase,
    strip non-alnum, collapse spaces, prefix 'w ' — a guaranteed
    single plaintext paragraph, for which the extraction kernel is
    byte-identity (probed: 0 byte-diff rows, n_spans=1,
    boilerplate_ratio=0.0 across the corpus), making the REAL operator
    pipeline SQL-expressible. Rich-text extraction stays pinned by the
    pytest golden + live-reference-parity suites."""
    return F.trim(
        F.concat(
            F.lit("w "),
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(
                        F.lower(F.coalesce(F.col("text"), F.lit(""))),
                        "[^a-z0-9 ]",
                        " ",
                    ),
                    " +",
                    " ",
                )
            ),
        )
    )


def _sanitized_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-shaped turns whose text is the sanitized body."""
    return _docs(spark, sf_dir).select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        _sanitized_body().alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


def q_a6_extraction_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 per-conversation rollup of the real extraction pipeline output
    (segment counts, content counts, boilerplate ratio) over sanitized
    single-paragraph turns — extraction is byte-identity there, so the
    rollup carries a full value oracle (r3 verdict #3; was rows-only)."""
    from docling_translate_spark.operators.extract import extract_turns_fused

    out = extract_turns_fused(_sanitized_turns(spark, sf_dir))
    return out.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum("n_spans").alias("n_spans"),
        F.avg("boilerplate_ratio").alias("avg_boiler"),
    )


def q_extract_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship FUSED extraction over sanitized single-paragraph turns —
    byte-identity there, so this carries a full value oracle (r3
    verdict #3; was rows-only). Rich-text segmentation semantics stay
    pinned by the pytest golden fixtures and the live-reference parity
    suite (tests/test_reference_parity.py)."""
    from docling_translate_spark.operators.extract import (
        ExtractConfig,
        extract_turns_fused,
    )

    out = extract_turns_fused(
        _sanitized_turns(spark, sf_dir), ExtractConfig(ordered=True)
    )
    return out.select(
        "conv_id", "turn_idx", "extracted_text", "n_spans", "boilerplate_ratio"
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at scale: hash-groupBy with min-id representative."""
    from docling_translate_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (rows-only: signature math not SQL)."""
    from docling_translate_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=64, bands=16, threshold=0.5
    )
    return pairs.select("id_a", "id_b")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (rows-only)."""
    from docling_translate_spark.operators.dedup import simhash_signatures

    return simhash_signatures(_docs(spark, sf_dir)).select(
        F.col("sid").alias("doc_id"), "simhash"
    )


def q_hashsig_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup groups + SimHash signatures (spec: MEMBER_BATTERIES)."""
    return _battery(spark, sf_dir, "hashsig_battery")


def q_domain_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain corpus profile (SURVEY §2.26) over
    deterministically-decorated URLs: seven host shapes by doc_id
    modulus — multi-label public suffixes (co.uk, com.au), plain
    .com/.org/.example.com subdomains, a single-label intranet host,
    mixed case, tracking params, fragments, and non-URL junk — every
    branch mirrored in the oracle. n_pages counts distinct canonical
    URLs, so the utm-variant rows must collapse."""
    from docling_translate_spark.operators.scrub import domain_profile

    i = F.col("doc_id")
    label = (i % 3).cast("string")
    host = (
        F.when(i % 7 == 0, F.concat(F.lit("News.Site"), label, F.lit(".CO.UK")))
        .when(i % 7 == 1, F.concat(F.lit("blog.site"), label, F.lit(".example.com")))
        .when(i % 7 == 2, F.concat(F.lit("site"), label, F.lit(".com")))
        .when(i % 7 == 3, F.concat(F.lit("Sub.A.site"), label, F.lit(".com.au")))
        .when(i % 7 == 4, F.lit("intranet"))
        .when(i % 7 == 5, F.concat(F.lit("www.site"), label, F.lit(".co.uk")))
        .otherwise(F.concat(F.lit("site"), label, F.lit(".org")))
    )
    url = F.when(i % 13 == 0, F.lit("not a url")).otherwise(
        F.concat(
            F.lit("https://"),
            host,
            F.lit("/p/"),
            (i % 5).cast("string"),
            F.when(i % 2 == 0, F.lit("?utm_campaign=x&z=1")).otherwise(F.lit("")),
            F.when(i % 4 == 0, F.lit("#top")).otherwise(F.lit("")),
        )
    )
    deco = _docs(spark, sf_dir).select("doc_id", url.alias("url"), "text")
    return domain_profile(deco)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs — full DuckDB oracle: the
    inverted-index shingle join is reproduced end-to-end in SQL."""
    from docling_translate_spark.operators.dedup import ngram_jaccard_pairs

    # 4-gram shingles + max_bucket=20: this corpus is word-salad with a
    # tiny vocabulary, so short shingles appear in hundreds of docs —
    # longer shingles + stop-shingle capping keep the inverted-index join
    # from going quadratic (true near-dups share RARE shingles)
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=4, threshold=0.3, max_bucket=20
    ).select("id_a", "id_b")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 — the HEADLINE kNN entry is the scale-safe
    blocked plan: corpus packed into executor-side matrix blocks, no
    broadcast, no driver collect (ids+rank compared against DuckDB's
    list_cosine_similarity; cosine omitted to dodge FP-hash noise)."""
    from docling_translate_spark.operators.similarity import brute_force_topk_blocked

    emb = _emb(spark, sf_dir)
    return brute_force_topk_blocked(emb, emb, k=5, n_blocks=8).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


def q_embed_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT embedding-cosine near-dup pairs via the blocked all-pairs
    GEMM (float64 on both sides so the threshold compare is stable
    against the float64 DuckDB oracle)."""
    from docling_translate_spark.operators.similarity import cosine_pairs_exact

    emb = _emb(spark, sf_dir)
    return cosine_pairs_exact(emb, threshold=0.35, n_blocks=8).select(
        "id_a", "id_b"
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 — FULL value oracle (relational
    bucket build + exact rescore in SQL). max_bucket is pinned above any
    sandbox bucket size because the oracle models the unsharded
    candidate set: the salt-split cap drops cross-shard pairs by design,
    which the SQL twin does not reproduce (the capped path is pinned by
    pytest instead: recall + >1-task hot bucket)."""
    from docling_translate_spark.operators.similarity import lsh_ann_topk

    return lsh_ann_topk(
        _emb(spark, sf_dir),
        dim=64, k=5, n_planes=4, n_tables=24, max_bucket=1_000_000,
    ).select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


def q_ann_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact kNN + LSH ANN top-5 (spec: MEMBER_BATTERIES)."""
    return _battery(spark, sf_dir, "ann_battery")


def q_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style one-pass data-quality audit (engine addition,
    operators/metrics.py): six contract rules — presence, key
    uniqueness, numeric range, code shape, code vocabulary, and a
    cross-field consistency check — over documents decorated with
    deterministic violations (every 19th text NULLed, every 13th lang
    malformed, every 29th char count negated, ids folded mod 450 so
    duplicates exist). One aggregation pass; the oracle recomputes
    every count independently as scalar subqueries."""
    from docling_translate_spark.operators.metrics import quality_audit

    i = F.col("doc_id")
    d = _docs(spark, sf_dir).select(
        (i % 450).alias("key"),
        F.when(i % 19 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
        F.when(i % 13 == 0, F.lit("EN ")).otherwise(F.col("lang")).alias(
            "lang"
        ),
        F.when(i % 29 == 0, F.lit(-1))
        .otherwise(F.col("n_chars"))
        .cast("long")
        .alias("n_chars"),
    )
    return quality_audit(
        d,
        [
            ("not_null", "text_present", "text"),
            ("unique", "key_unique", "key"),
            ("in_range", "chars_range", "n_chars", 1, 100000),
            ("matches", "lang_shape", "lang", "^[a-z]{2}$"),
            ("in_set", "lang_known", "lang", ["en", "fr", "de", "es", "zh"]),
            ("check", "chars_consistent", "n_chars = length(text)"),
        ],
    )


# IVF gate parameters — shared by q_ann_ivf and its oracle so query and
# SQL cannot drift (the TFIDF_K / VDIV_K hoisting discipline)
IVF_N_CELLS = 16
IVF_NPROBE = 6
IVF_K = 5
IVF_MAX_TRAIN = 65536
# embeddings table vector width (TESTDATA.md) — interpolated into the
# centroid-replaying oracles' range() bounds so the SQL cannot drift
# from the table it replays
EMB_DIM = 64
# memoizes the DuckDB-replayed centroid literal per sf path — see
# _ivf_centroid_values in oracle_sql()
_IVF_CENTROID_CACHE: dict[str, str] = {}


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5, exact-assignment variant
    (operators/similarity.py::ivf_topk_exact): seeded k-means training
    on the bounded hash-ordered sample is deterministic, centroids snap
    onto the 2^20 integer grid, and cell assignment + nprobe probing are
    BIGINT dot products — so the oracle replays assignment, probing and
    the exact rescore from the identical centroid literal emitted by the
    same recipe (k-means training itself stays pytest-pinned)."""
    from docling_translate_spark.operators.similarity import ivf_topk_exact

    return ivf_topk_exact(
        _emb(spark, sf_dir),
        k=IVF_K, n_cells=IVF_N_CELLS, nprobe=IVF_NPROBE,
        max_train=IVF_MAX_TRAIN,
    ).select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


# SemDeDup gate parameters — the cosine threshold in thousandths,
# shared by q_semdedup and its oracle; clustering reuses the IVF
# constants above so the centroid literal is shared (and memoized) too
SEMDEDUP_THR_MILLI = 400


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (operators/semdedup.py::semdedup_exact,
    Abbas et al. 2023): k-means cells from the same deterministic IVF
    recipe as ann_ivf (shared constants, shared centroid literal),
    argmax integer centroid dot assignment, and the within-cell prune —
    drop a member iff a (cdot ASC, id ASC)-preceding cell-mate is
    cosine-≥-τ similar, tested exactly in integers (10^6·dot² vs
    τ_milli²·|a|²·|b|², DECIMAL/HUGEINT). One row per vector with the
    cell, exact centroid dot, squared quantized norm and verdict."""
    from docling_translate_spark.operators.semdedup import semdedup_exact

    return semdedup_exact(
        _emb(spark, sf_dir),
        thr_milli=SEMDEDUP_THR_MILLI,
        n_cells=IVF_N_CELLS,
        max_train=IVF_MAX_TRAIN,
    )


# PQ gate parameters — subspace count / codes per subspace, shared by
# q_ann_ivfpq and its oracle (coarse stage reuses the IVF constants +
# the shared memoized centroid literal)
PQ_M = 8
PQ_KS = 16
PQ_DSUB = EMB_DIM // PQ_M
_PQ_CODEBOOK_CACHE: dict[str, str] = {}


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-style IVF-PQ top-5 (operators/similarity.py::ivfpq_topk,
    Jégou et al. 2011): coarse cells from the shared ann_ivf codebook,
    per-subspace L2 PQ codes (BIGINT argmin on the integer grid), and
    asymmetric-distance scoring — each candidate costs one m-term LUT
    sum instead of a vector dot. Everything downstream of the emitted
    centroid/codebook literals is exact integers, so the oracle replays
    encoding, the ADC sum and the (adc DESC, id) ranking bit-for-bit;
    only the two k-means trainers stay pytest-pinned."""
    from docling_translate_spark.operators.similarity import ivfpq_topk

    return ivfpq_topk(
        _emb(spark, sf_dir),
        k=IVF_K,
        n_cells=IVF_N_CELLS,
        nprobe=IVF_NPROBE,
        m=PQ_M,
        ks=PQ_KS,
        max_train=IVF_MAX_TRAIN,
    )


# semantic-decontamination gate parameters — threshold in thousandths
# and the eval-side probe width, shared with the oracle; codebook =
# the shared IVF constants (same memoized centroid literal)
SEMDECON_THR_MILLI = 400
SEMDECON_NPROBE = 4


def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (operators/semdedup.py
    ::semantic_decontaminate) — the semantic twin of the n-gram
    `decontaminate`: corpus = the md5-chosen 80% of embeddings, eval =
    the other 20% (the bigram_lm split discipline, so real hits exist),
    codebook trained on the FULL table by the exact _ivf_centroid_values
    recipe (shared memoized literal). Corpus vectors flag when any eval
    vector in their cell (eval side multiprobes its top-4 cells)
    reaches cosine ≥ 0.4 under the no-float integer test."""
    from docling_translate_spark.functions.hashing import md5_prefix60
    from docling_translate_spark.operators.semdedup import (
        semantic_decontaminate,
    )
    from docling_translate_spark.operators.similarity import (
        ivf_centroid_ints,
        ivf_train_rows,
    )

    emb = _emb(spark, sf_dir)
    rows = ivf_train_rows(emb, max_train=IVF_MAX_TRAIN)
    cents = ivf_centroid_ints(rows, IVF_N_CELLS)
    split = md5_prefix60(F.col("vec_id").cast("string")) % 5
    return semantic_decontaminate(
        emb.filter(split < 4),
        emb.filter(split >= 4),
        thr_milli=SEMDECON_THR_MILLI,
        nprobe=SEMDECON_NPROBE,
        centroid_ints=cents,
    )


# bitext-mining gate parameters — background-kNN depth and probe width,
# shared with the oracle; codebook = the shared IVF constants
BITEXT_K = 4
BITEXT_NPROBE = 4


def q_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (operators/bitext.py::bitext_mine,
    Artetxe & Schwenk 2019 — the LASER/CCMatrix parallel-corpus miner,
    the corpus-construction step upstream of the reference's translation
    app): the embeddings table splits into two 'languages' by label
    (<5 vs >=5), the codebook trains on the FULL table by the exact
    shared recipe, and each source vector gets its best margin-scored
    target plus the mutual-best flag. Every float derives from exact
    BIGINT dots with matched fold order, so the oracle replays margins
    bit-for-bit."""
    from docling_translate_spark.operators.bitext import bitext_mine
    from docling_translate_spark.operators.similarity import (
        ivf_centroid_ints,
        ivf_train_rows,
    )

    emb = _emb(spark, sf_dir)
    rows = ivf_train_rows(emb, max_train=IVF_MAX_TRAIN)
    cents = ivf_centroid_ints(rows, IVF_N_CELLS)
    return bitext_mine(
        emb.filter(F.col("label") < 5),
        emb.filter(F.col("label") >= 5),
        k=BITEXT_K,
        nprobe=BITEXT_NPROBE,
        centroid_ints=cents,
    )


# BPE gate parameter — candidate-merge list size, shared with the oracle
BPE_TOP_K = 50


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale BPE merge statistics (operators/bpe.py::
    bpe_pair_stats, Sennrich et al. 2016): one corpus-sized word-count
    agg, then the adjacent-symbol-pair explosion runs on the DISTINCT
    word histogram (vocabulary-sized, the fastBPE/HF trainer shape),
    exact BIGINT pair counts, top-k under (count DESC, left, right)
    as a bounded sort-limit. The iterative merge loop itself is
    driver-side over the bounded histogram and pytest-pinned
    (tests/test_bpe.py) — round 1's winner equals this query's rank-1
    row by construction."""
    from docling_translate_spark.operators.bpe import bpe_pair_stats

    return bpe_pair_stats(_docs(spark, sf_dir), top_k=BPE_TOP_K)


def q_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized maximum-inner-product top-5 (engine addition,
    operators/similarity.py): symmetric per-vector quantization (no
    order-dependent float sums anywhere — amax is a max, the grid map
    is one IEEE multiply/divide/floor), then the blocked packed×packed
    GEMM with EXACT BIGINT scores, so unlike the float-cosine queries
    the score column itself is value-hashed at the gate."""
    from docling_translate_spark.operators.similarity import quantized_ip_topk

    emb = _emb(spark, sf_dir)
    return quantized_ip_topk(emb, emb, k=5, n_blocks=8)


def q_docquality_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main content + unigram-LM quality (spec: MEMBER_BATTERIES)."""
    return _battery(spark, sf_dir, "docquality_battery")


def q_text_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID + quality features + token counts in ONE query: all
    three are per-doc scalar projections over ``documents``, so they
    merge into one wide select with every column value-checked by the
    merged oracle. Every 23rd doc is REPLACED by deterministic
    Korean/Chinese text, so lang_id's ko/zh marker paths, the CJK
    quality branch (char band + script coherence + CJK-excluded
    punctuation) and token counting over CJK text are all gate-checked;
    the rest exercise the Latin path."""
    from docling_translate_spark.operators.text_analysis import (
        lang_id,
        quality_features,
        token_counts,
    )

    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 23 == 0,
            F.concat(
                F.lit("기계 학습 모델은 대규모 데이터 집합에서 패턴을 학습합니다 "),
                F.lit("机器学习模型从大规模数据集中学习模式 文档 "),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.col("text")),
    )
    return token_counts(quality_features(lang_id(d))).select(
        "doc_id",
        "pred_lang",
        F.col("n_words").cast("long").alias("n_words"),
        "punct_ratio",
        "stop_ratio",
        "cjk_ratio",
        "quality_score",
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
    )


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality classifier (GPT-3 Appendix A recipe): fit
    multinomial NB on labeled seed corpora, score held-out documents.
    Deterministic seeds with injected class vocabulary so the decision
    is real at every sf: pos seed = doc_id % 7 == 0 with an appended
    quality phrase, neg seed = doc_id % 7 == 3 with a spam phrase;
    scored docs (% 7 ∉ {0,3}) carry one phrase or neither by doc_id %
    4, so both labels appear and flip on content, not noise. Exact
    BIGINT micro-unit arithmetic end to end (see classifier.py)."""
    from docling_translate_spark.operators.classifier import nb_classify

    d = _docs(spark, sf_dir)
    pos = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "text", F.concat(F.coalesce("text", F.lit("")), F.lit(_NB_POS_PHRASE))
    )
    neg = d.filter(F.col("doc_id") % 7 == 3).withColumn(
        "text", F.concat(F.coalesce("text", F.lit("")), F.lit(_NB_NEG_PHRASE))
    )
    scored = d.filter(~(F.col("doc_id") % 7).isin(0, 3)).withColumn(
        "text",
        F.concat(
            F.coalesce("text", F.lit("")),
            F.when(F.col("doc_id") % 4 == 0, F.lit(_NB_POS_PHRASE))
            .when(F.col("doc_id") % 4 == 2, F.lit(_NB_NEG_PHRASE))
            .otherwise(F.lit("")),
        ),
    )
    return nb_classify(scored, pos, neg).select(
        "doc_id", "n_grams", "nb_score", "nb_label"
    )


# shared between q_nb_quality and its oracle so the two cannot drift
_NB_POS_PHRASE = " peer reviewed thorough careful analysis"
_NB_NEG_PHRASE = " click buy free prize now cheap"


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus data card: doc counts, char volume, exact
    distinct-text counts, and exact type-1 length quantiles computed
    from a per-(source, length) histogram — never a per-source row
    sort. All-BIGINT output."""
    from docling_translate_spark.operators.metrics import corpus_profile

    return corpus_profile(_docs(spark, sf_dir), group_col="source")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 fingerprint over normalized text."""
    from docling_translate_spark.operators.text_analysis import fingerprint

    return fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash document fingerprint — one JVM aggregate
    fold over codepoints, bit-identical in any SQL engine."""
    from docling_translate_spark.operators.text_analysis import rolling_fingerprint

    return rolling_fingerprint(_docs(spark, sf_dir)).select("doc_id", "rolling_fp")


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint sets (MOSS algorithm; rows-only — the
    selection rule is pinned against a pure-Python reference in pytest)."""
    from docling_translate_spark.operators.text_analysis import winnowing_fingerprints

    return winnowing_fingerprints(_docs(spark, sf_dir), k=5, window=4).select(
        F.col("sid").alias("doc_id"), "fp", "pos"
    )


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plagiarism/near-dup candidate pairs from shared winnowing
    fingerprints (rows-only; selection + pairing pinned by pytest)."""
    from docling_translate_spark.operators.text_analysis import winnow_overlap_pairs

    return winnow_overlap_pairs(
        _docs(spark, sf_dir), min_shared=3, max_bucket=50
    ).select("id_a", "id_b", "n_shared")


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition gates: duplicate-line ratio +
    most-frequent-bigram mass (pure column exprs, oracle-checked)."""
    from docling_translate_spark.operators.text_analysis import repetition_features

    return repetition_features(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        "dup_line_ratio",
        "top_bigram_ratio",
    )


def q_sample_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three deterministic samplers in ONE gate slot (recorded-cap
    discipline, same consolidation as scalar_battery): md5-cutoff
    Bernoulli sampling, exact per-source quota sampling, and domain-
    mixture budgeting, union-tagged by method. Every branch keeps its
    original arithmetic, so each stays individually value-checked."""
    from docling_translate_spark.operators.sampling import (
        hash_sample,
        mix_sources,
        stratified_sample,
    )

    d = _docs(spark, sf_dir)
    weights = {"src0": 0.4, "src1": 0.25, "src2": 0.2, "src3": 0.1, "src4": 0.05}
    h = hash_sample(d, 0.25).select(
        F.lit("hash").alias("method"), "source", "doc_id"
    )
    s = stratified_sample(d, 7).select(
        F.lit("quota").alias("method"), "source", "doc_id"
    )
    m = mix_sources(d, weights, 3000).select(
        F.lit("mixture").alias("method"), "source", "doc_id"
    )
    return h.unionByName(s).unionByName(m)


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DSIR top-k selection (TakeOrderedAndProject — each
    task keeps a local top-k, only k rows reach the driver). Total
    order: (log_weight DESC, doc_id); weights are BIGINT-exact so the
    ranking is engine-reproducible."""
    from docling_translate_spark.operators.sampling import dsir_select

    d = _docs(spark, sf_dir)
    raw = d.filter(F.col("doc_id") % 11 != 0)
    tgt = d.filter(F.col("doc_id") % 11 == 0)
    return dsir_select(raw, tgt, 50).select("doc_id", "n_grams", "log_weight")


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, NeurIPS): hashed
    unigram+bigram likelihood ratio of a target corpus vs the raw
    corpus, summed per raw document. Deterministic corpus split so the
    model has a real target at every sf: target = doc_id % 11 == 0,
    raw = the rest."""
    from docling_translate_spark.operators.sampling import dsir_weights

    d = _docs(spark, sf_dir)
    raw = d.filter(F.col("doc_id") % 11 != 0)
    tgt = d.filter(F.col("doc_id") % 11 == 0)
    return dsir_weights(raw, tgt).select("doc_id", "n_grams", "log_weight")


# BM25 probe + parameters shared by q_bm25_topk and _bm25_oracle: one
# definition, or the gate silently compares two different queries
_BM25_PROBE = "spark window hash stream"
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_K = 100


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (Robertson & Zaragoza 2009, Lucene idf
    variant) for a fixed probe query over `documents` — zero-shuffle
    row-local term frequencies, one broadcast stats row, TakeOrdered.
    Scores are micro-unit BIGINT-exact (dsir_weights discipline)."""
    from docling_translate_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        _docs(spark, sf_dir), _BM25_PROBE, _BM25_K, k1=_BM25_K1, b=_BM25_B
    )


def q_layout_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-block reading order (north star: positioned PDF/layout
    blocks → reading-order DOM with spans). Blocks are synthesized
    deterministically from `documents` via md5 integer arithmetic (8
    per doc: page, bbox, kind, text slice all h-derived) so the DuckDB
    oracle rebuilds the identical block table; the operator then emits
    role (body/furniture), simplified-XY-cut column + order, reference
    `len+2` char spans, and figure/table caption attachment."""
    from docling_translate_spark.functions.hashing import md5_prefix60
    from docling_translate_spark.operators.layout import layout_reading_order

    d = _docs(spark, sf_dir)
    b = d.select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("_txt"),
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("_bid"),
    ).withColumn(
        "_h",
        md5_prefix60(
            F.concat_ws(":", F.col("doc_id"), F.col("_bid"))
        ),
    )
    kinds = F.array(
        *[F.lit(k) for k in ("text", "text", "text", "table", "figure", "caption")]
    )
    x0 = F.col("_h") % 400 + F.lit(500) * (F.expr("_h div 400") % 2)
    y0 = F.expr("_h div 800") % 1000
    blocks = b.select(
        "doc_id",
        F.col("_bid").cast("long").alias("block_id"),
        (F.col("_bid") >= 4).cast("long").alias("page"),
        x0.alias("x0"),
        y0.alias("y0"),
        F.least(
            x0 + F.lit(80) + F.expr("_h div 13") % 500, F.lit(1000)
        ).alias("x1"),
        # y1 = y0 + a short h-derived height, page-capped
        F.least(
            y0 + F.lit(20) + F.expr("_h div 29") % 60, F.lit(1000)
        ).alias("y1"),
        F.element_at(kinds, (F.col("_h") % 6 + 1).cast("int")).alias("kind"),
        F.expr("substring(_txt, CAST(1 + _h % 40 AS INT), 16)").alias("text"),
    )
    lo = layout_reading_order(blocks)
    return lo.select(
        "doc_id",
        "block_id",
        "page",
        "kind",
        "role",
        F.col("col").cast("long").alias("col_idx"),
        F.col("order_idx").cast("long").alias("order_idx"),
        "char_start",
        "char_end",
        "caption_of",
    )


def q_dom_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM token-sequence lexer (north star: "tokenizes raw turn text
    into byte-stream/DOM token sequences"). Each doc is wrapped in a
    deterministic page exercising every token kind — doctype decl,
    open/close tags, a named and a numeric entity, a self-closing tag,
    bare '<'/'&' literals — and the lexer emits the exploded ordered
    (kind, tok, nbytes) stream. One codegen projection + narrow
    posexplode; the DuckDB oracle replays the identical regex lexer."""
    from docling_translate_spark.operators.dom_tokens import dom_tokens_flat

    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    did = F.col("doc_id").cast("string")
    body = F.coalesce(F.col("text"), F.lit(""))
    html = F.concat(
        F.lit(
            '<!DOCTYPE html><nav><a href="/">Home</a> &middot; '
            '<a href="/docs">Docs</a></nav><h1>Doc '
        ),
        did,
        F.lit("</h1><p>"),
        body,
        F.lit('</p><p>spec &amp; notes &#169; <img src="/img/'),
        did,
        F.lit('.png"/> tail: a<b & AT&T</p><footer>fin</footer>'),
    )
    return dom_tokens_flat(d.select("doc_id", html.alias("text")))


# shared by each query and its oracle (constants hoisted so the two
# sides cannot drift — the bm25 k1/b discipline)
TFIDF_K = 5
VDIV_K = 20
TMPL_PREFIX = 80
TMPL_MIN_FAMILY = 2


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k TF-IDF keywords (engine addition,
    operators/retrieval.py::tfidf_keywords): micro-quantized idf so the
    ranking is BIGINT-exact (the dsir/bm25 discipline); the ranking
    window partitions on one document — bounded by its distinct-term
    count, never the corpus."""
    from docling_translate_spark.operators.retrieval import tfidf_keywords

    return tfidf_keywords(_docs(spark, sf_dir), k=TFIDF_K)


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM (engine addition,
    operators/text_analysis.py::bigram_lm_train/score, Brants et al.
    2007): counts trained on the md5-chosen 80% of documents, every
    document scored against them — so ~20% of docs genuinely exercise
    the unseen-bigram backoff and OOV floor. Per doc: bigram positions,
    backed-off positions, and mean −log2 S rounded to 6 decimals (the
    unigram_logprob FP discipline)."""
    from docling_translate_spark.functions.hashing import md5_prefix60
    from docling_translate_spark.operators.text_analysis import (
        bigram_lm_score,
        bigram_lm_train,
    )

    d = _docs(spark, sf_dir)
    train = d.filter(md5_prefix60(F.col("doc_id").cast("string")) % 5 < 4)
    return bigram_lm_score(d, bigram_lm_train(train))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: seq_bin = starting token
    offset div budget, per source in stable id order."""
    from docling_translate_spark.operators.sampling import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), 512).select(
        "doc_id", "ws_tokens", "seq_bin"
    )


def q_snapshot_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff + churn rollup (engine addition,
    operators/metrics.py): the new snapshot drops every 11th doc
    (removed), rewrites every 5th doc's text (changed), and adds a
    fresh doc per every 17th id (added); per-doc status rows joined
    with the per-status counts. The join moves slim (id, digest) rows
    — text never shuffles (plan-pinned in tests)."""
    from docling_translate_spark.operators.metrics import (
        snapshot_churn,
        snapshot_diff,
    )

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    old = d.select("doc_id", "text")
    new = (
        d.filter(i % 11 != 0)
        .select(
            "doc_id",
            F.when(i % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .union(
            d.filter(i % 17 == 0).select(
                (i + 10000).alias("doc_id"),
                F.concat(F.lit("fresh "), i.cast("string")).alias("text"),
            )
        )
    )
    diff = snapshot_diff(old, new)
    churn = snapshot_churn(old, new).withColumnRenamed("n_docs", "n_status")
    return diff.join(F.broadcast(churn), "status").select(
        "doc_id", "status", "n_status"
    )


def q_conv_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation shape profile (engine addition,
    operators/metrics.py::conversation_shape): transcript rows derived
    deterministically from ``documents`` — md5-picked roles (so
    adjacent repeats occur naturally), every 23rd turn an off-axis
    'observer' role, every 29th a NULL role (→ folds to '' = other),
    every 3rd a tool call, every 31st a NULL timestamp, every 41st a
    NULL turn_idx (→ row excluded up front: an unordered turn has no
    position in the alternation/first/last semantics, and NULL ordering
    diverges cross-engine) — so every branch of the operator (axis
    counts, other-bucket, NULL folding, repeat counter, tool ratio,
    duration with NULL exclusion, NULL-turn_idx exclusion) is
    value-checked. Output is all BIGINT/STRING (the w_window_agg
    convention: no TIMESTAMP/DECIMAL reaches the gate hash)."""
    from docling_translate_spark.operators.metrics import conversation_shape

    i = F.col("doc_id")
    pick = (
        F.conv(F.substring(F.md5(i.cast("string")), 1, 15), 16, 10).cast("long")
        % 4
    )
    roles4 = F.array(
        F.lit("system"), F.lit("user"), F.lit("assistant"), F.lit("tool")
    )
    t = _docs(spark, sf_dir).select(
        F.col("source").alias("conv_id"),
        F.when(i % 41 == 0, F.lit(None).cast("int"))
        .otherwise(i.cast("int"))
        .alias("turn_idx"),
        F.when(i % 29 == 0, F.lit(None).cast("string"))
        .when(i % 23 == 0, F.lit("observer"))
        .otherwise(F.element_at(roles4, (pick + 1).cast("int")))
        .alias("role"),
        F.col("text"),
        F.when(i % 3 == 0, F.lit("python")).otherwise(F.lit("")).alias("tool"),
        F.timestamp_seconds(
            F.when(i % 31 == 0, F.lit(None).cast("long")).otherwise(
                F.lit(1700000000) + i * 37
            )
        ).alias("ts"),
    )
    return conversation_shape(t)


def q_template_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-family detection (engine addition,
    operators/metrics.py::template_families): documents fan out into
    ~97 multi-turn conversations (conv = doc_id mod 97, turn = doc_id
    div 97); every third conversation's FIRST turn is overridden with a
    numbered system-prompt variant ('You are agent #<n>! ...') — the
    CCNet normalization folds the digits, so the operator must find
    exactly that family plus any natural first-turn duplicates."""
    from docling_translate_spark.operators.metrics import template_families

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    conv_n = i % 97
    tidx = F.expr("doc_id div 97")
    t = d.select(
        F.concat(F.lit("c"), conv_n.cast("string")).alias("conv_id"),
        tidx.cast("int").alias("turn_idx"),
        F.when(
            (tidx == 0) & (conv_n % 3 == 0),
            F.concat(
                F.lit("You are agent #"),
                conv_n.cast("string"),
                F.lit("! Be concise; be helpful."),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return template_families(
        t, prefix_chars=TMPL_PREFIX, min_family=TMPL_MIN_FAMILY
    )


# source_overlap gate parameters — interpolated into BOTH the query
# call and the oracle SQL so they cannot drift (the TFIDF_K/VDIV_K
# hoisting discipline). SOVERLAP_N stays 3 by contract: the oracle
# writes the 3-gram construction out by hand (t[i+1]||' '||t[i+2]||' '
# ||t[i+3]).
SOVERLAP_N = 3
SOVERLAP_MAX_SOURCES = 10
SOVERLAP_UBIQ_MOD = 5   # every 5th doc: ubiquitous phrase (cap path)
SOVERLAP_LEAK_MOD = 37  # every 37th doc: rare leak phrase (overlap path)


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle-overlap matrix (engine addition,
    operators/text_analysis.py::source_overlap): every
    SOVERLAP_UBIQ_MOD-th doc carries a ubiquitous phrase (present in
    ~all sources → its shingles are dropped by the
    max_sources=SOVERLAP_MAX_SOURCES stop cap, value-checking the cap
    path) and every SOVERLAP_LEAK_MOD-th a rare leak phrase (survives
    and creates the overlap pairs the operator exists to find). Exact
    integer Jaccard in micro-units — no FP anywhere."""
    from docling_translate_spark.operators.text_analysis import (
        source_overlap,
    )

    i = F.col("doc_id")
    d = _docs(spark, sf_dir).select(
        "source",
        F.concat(
            F.col("text"),
            F.when(
                i % SOVERLAP_UBIQ_MOD == 0,
                F.lit(" ubiquitous shared phrase everywhere"),
            ).otherwise(F.lit("")),
            F.when(
                i % SOVERLAP_LEAK_MOD == 0,
                F.lit(" rare leak signature phrase"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return source_overlap(d, n=SOVERLAP_N, max_sources=SOVERLAP_MAX_SOURCES)


def q_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift via smoothed unigram KL (engine addition,
    operators/text_analysis.py::vocab_divergence): corpus A = even docs
    decorated with deterministic drift terms, corpus B = odd docs — so
    the operator demonstrably surfaces the injected drift vocabulary at
    the top ranks. Per-term contributions are nano-quantized BIGINTs
    (order-independent sums, the dsir discipline)."""
    from docling_translate_spark.operators.text_analysis import (
        vocab_divergence,
    )

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    a = d.filter(i % 2 == 0).select(
        F.concat(
            F.col("text"), F.lit(" drift"), (i % 7).cast("string")
        ).alias("text")
    )
    b = d.filter(i % 2 == 1).select("text")
    return vocab_divergence(a, b, k=VDIV_K)


def q_i18n_localize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UI-string localization with the reference's fallback chain
    (lang table → en → key; ref i18n.py t())."""
    from docling_translate_spark.functions.i18n import localize_col

    keys = F.array(
        F.lit("job_started"),
        F.lit("engine_label"),   # absent in ko → en fallback
        F.lit("unknown_key"),    # absent everywhere → key fallback
        F.lit("report_header"),
    )
    langs = F.array(F.lit("ko"), F.lit("en"), F.lit("de"))  # de → en tier
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.element_at(keys, (F.col("doc_id") % 4 + 1).cast("int")).alias("ui_key"),
        F.element_at(langs, (F.col("doc_id") % 3 + 1).cast("int")).alias("ui_lang"),
    )
    return d.select(
        "doc_id", "ui_key", "ui_lang",
        localize_col("ui_key", "ui_lang").alias("localized"),
    )


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via session_window (30-min inactivity gap) —
    the batch twin of streaming/sessionize.py's stateful operator,
    oracle-checked against a gaps-and-islands SQL formulation."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payloads → Arrow-batched features.
    Full DuckDB oracle: the payload is rebuilt in SQL and fingerprinted
    via sha256(upper(hex(payload)))."""
    from docling_translate_spark.operators.multimodal import (
        extract_media_features,
        synth_media_df,
    )

    return extract_media_features(synth_media_df(spark, n=128)).select(
        "media_id", "kind", "n_bytes", "hex_sha256"
    )


def q_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe per-group top-k (engine addition,
    operators/retrieval.py): top-3 docs per source by char count —
    salted two-phase ranking, no hot-key window (both window phases
    bounded; plan-pinned in tests)."""
    from docling_translate_spark.operators.retrieval import topk_per_group

    return topk_per_group(
        _docs(spark, sf_dir).select("source", "doc_id", "n_chars"),
        ["source"],
        "n_chars",
        3,
        ["doc_id"],
        salt_buckets=8,
    )


def q_eventmedia_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization + multimodal features in ONE gate slot
    (recorded-cap discipline): both branches verbatim; the session
    start rides as a formatted STRING (the w_window_agg hash-robustness
    convention — no raw TIMESTAMP reaches the gate's type-sensitive
    value hash)."""
    sw = q_session_window(spark, sf_dir).select(
        F.lit("session").alias("branch"),
        F.col("user_id").cast("string").alias("k1"),
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("c1"),
        F.lit("").alias("c2"),
        F.col("n_events").cast("long").alias("l1"),
    )
    mf = q_media_features(spark, sf_dir).select(
        F.lit("media").alias("branch"),
        F.col("media_id").cast("string").alias("k1"),
        F.col("kind").alias("c1"),
        F.col("hex_sha256").alias("c2"),
        F.col("n_bytes").cast("long").alias("l1"),
    )
    return sw.unionByName(mf)


def q_a7_per_kind_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 per-kind sequential numbering (ref utils.py:64-66)."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.row_number().over(w).cast("long").alias("kind_seq"),
    )


def q_w5_history_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 newest-first history scan with top-k (ref utils.py:176-178)."""
    return (
        _events(spark, sf_dir)
        .orderBy(F.col("ts").desc(), F.col("event_id"))
        .limit(20)
        .select("event_id", "user_id", "event_type")
    )


def q_s7_render_document(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 whole-document assembly: one complete interactive HTML document
    per conversation — header/CSS/JS shell, page markers, formula blocks,
    paragraph rows in stable turn order (ref generate_html_content,
    html_generator.py:495-761). Full DuckDB oracle: the skeleton
    constants are inlined into the SQL and the assembly is
    string_agg(... ORDER BY idx)."""
    from docling_translate_spark.functions.render import document_html

    txt = F.coalesce(F.col("text"), F.lit(""))
    d = _docs(spark, sf_dir).select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").alias("turn_idx"),
        txt.alias("text"),
        txt.alias("extracted"),
        ((F.col("doc_id") % 40) + 1).alias("page"),
    )
    return document_html(d, page_col="page")


def q_s28_table_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 UNION ALL of span sources: body + caption + table cells +
    headers through the REAL fused extraction kernel (ref core.py:429-448).
    Full DuckDB oracle: the body is sanitized to a guaranteed single
    plaintext paragraph, so the kernel's output is exactly
    body ∥ caption ∥ cells ∥ headers joined with the content joiner —
    SQL-expressible even though the kernel itself is not."""
    from docling_translate_spark.operators.extract import extract_turns_fused

    body = F.trim(
        F.concat(
            F.lit("w "),
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(
                        F.lower(F.coalesce(F.col("text"), F.lit(""))),
                        "[^a-z0-9 ]",
                        " ",
                    ),
                    " +",
                    " ",
                )
            ),
        )
    )
    did = F.col("doc_id").cast("string")
    has_tbl = F.col("doc_id") % 4 == 0
    rich = _docs(spark, sf_dir).select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        body.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("Figure "), did, F.lit(": "), F.substring(body, 1, 20)),
        ).alias("caption"),
        F.when(
            has_tbl,
            F.array(
                F.array(F.substring(body, 3, 8), F.concat(F.lit("v"), did)),
                F.array(F.lit(""), F.substring(body, 11, 8)),
            ),
        ).alias("cells"),
        F.when(has_tbl, F.array(F.lit("metric"), F.lit("value"))).alias("headers"),
    )
    return extract_turns_fused(rich).select(
        "conv_id", "turn_idx", "extracted_text", "n_spans"
    )


# Pinned policy lexicon for the bad-words gate query: two single-word
# terms that occur naturally in the corpus, one that never occurs, and
# two multi-word phrases (one natural, one impossible) — both match
# paths AND the clean path are value-checked.
BADWORDS_LEXICON = ("slow", "vector", "zyzzyva", "hash join", "purple unicorn")


def q_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 bad-words lexicon gate (Raffel et al. 2020 §2.2; SURVEY
    §2.28) — per-doc matched-term flags over the raw corpus with the
    pinned :data:`BADWORDS_LEXICON`. ``kept`` is exactly the
    ``filter_badwords`` predicate, so the filter's semantics are pinned
    by the same oracle."""
    from docling_translate_spark.operators.scrub import badwords_flags

    return badwords_flags(_docs(spark, sf_dir), BADWORDS_LEXICON).select(
        "doc_id",
        F.array_join("bad_terms", ",").alias("bad_terms"),
        "n_bad",
        (F.col("n_bad") == 0).cast("long").alias("kept"),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents decorated with deterministic
    synthetic PII (emails/phones/IPs/cards) — full DuckDB oracle: the
    same portable regex battery runs in SQL."""
    from docling_translate_spark.operators.scrub import redact_pii

    did = F.col("doc_id").cast("string")
    decorated = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"), did, F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" call +1 555-123-4567 ok")).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" host 10.0.0."), (F.col("doc_id") % 200).cast("string"), F.lit(" up")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" pay 4111 1111 1111 1111 thanks")).otherwise(
            F.lit("")
        ),
    )
    d = _docs(spark, sf_dir).select("doc_id", decorated.alias("text"))
    return redact_pii(d).select(
        "doc_id", "clean_text", "n_email", "n_card", "n_phone", "n_ip", "n_pii"
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥1 distinct
    4-gram with a (deterministic md5-sampled) eval set — full oracle via
    the same inverted-index join in SQL."""
    from docling_translate_spark.operators.dedup import decontaminate
    from docling_translate_spark.operators.sampling import hash_sample

    docs = _docs(spark, sf_dir)
    eval_set = hash_sample(docs, 0.05)
    return decontaminate(docs, eval_set, n=4, min_hits=1).select(
        "train_id", "n_hits", "n_eval_docs"
    )


def q_s8_embed_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S9 composition: the reference's save-and-embed image block —
    a full-width div with the payload inlined as a base64 data URI
    (ref html_generator.py:645-660, utils.py:95-124). Spark's base64
    MIME-wraps at 76 chars; the CRLFs are stripped so the data URI is
    valid AND byte-equal to any SQL engine's unwrapped encoder."""
    from docling_translate_spark.operators.multimodal import synth_media_df

    m = synth_media_df(spark, n=128)
    b64 = F.regexp_replace(F.base64("payload"), "[\\r\\n]", "")
    html = F.concat(
        F.lit('<div class="full-width"><img src="data:'),
        F.col("mime"),
        F.lit(";base64,"),
        b64,
        F.lit('" alt="'),
        F.col("kind"),
        F.lit('"></div>'),
    )
    return m.select("media_id", html.alias("html"))


def q_t8_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 sentence tokenization per doc (rows-only: rule-based splitter
    pinned by pytest fixtures, ref core.py:428)."""
    from docling_translate_spark.arrow_io import int32_array, read_strings
    from docling_translate_spark.sentences import split_sentences

    @F.arrow_udf("int")
    def n_sents(texts: pa.Array) -> pa.Array:
        return int32_array(len(split_sentences(t or "")) for t in read_strings(texts))

    return _docs(spark, sf_dir).select(
        "doc_id", n_sents("text").alias("n_sentences")
    )


def q_s1_format_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 payload-family routing over derived transcripts — full DuckDB
    oracle (decoration + detect_format reproduced as SQL CASE/regex;
    dispatch table also pinned by pytest, ref text_parser.py:60-111).
    Since r5 the query runs the JVM column dispatch (detect_format_col
    — the same F.when chain the production rollups use; its equality
    with the Python kernel is pinned by tests/test_segmenters.py), so
    no per-row Python remains in any driver query."""
    from docling_translate_spark.segmenters import detect_format_col
    from docling_translate_spark.sources.tables import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir)
    return (
        t.withColumn(
            "family", detect_format_col(F.col("text"), F.col("tool"))
        )
        .groupBy("family")
        .agg(F.count("*").alias("n_turns"))
    )


def q_s7_render_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/W4 HTML paragraph-row rendering with deterministic span ids
    (ref html_generator.py:583-637)."""
    from docling_translate_spark.functions.render import paragraph_row

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        paragraph_row(
            F.col("source"),
            F.col("doc_id").cast("int"),
            F.substring("text", 1, 60),
            F.upper(F.substring("text", 1, 60)),
        ).alias("html"),
    )


# shared by q_weighted_sample and its oracle
WSAMPLE_N = 50


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-ES weighted sampling without replacement (engine addition,
    operators/sampling.py::weighted_sample): weights derived from the
    char count (mod-cycled so they vary 1..97), top-50 by the
    nano-quantized ln(u)/w key — reproducible at any cluster size, and
    the whole draw is one TakeOrdered."""
    from docling_translate_spark.operators.sampling import weighted_sample

    d = _docs(spark, sf_dir).select(
        "doc_id", (F.col("n_chars") % 97 + 1).cast("double").alias("w")
    )
    out = weighted_sample(d, n=WSAMPLE_N, weight_col="w", id_col="doc_id")
    return out.select(
        "doc_id", F.col("w").cast("long").alias("weight"), "key_nano", "rank"
    )


def q_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunking (SURVEY §2.27): size 32, stride
    24 over the documents table — word-salad docs emit several
    overlapping windows, short docs exactly one, and the
    coverage-extension rule drops redundant contained tails. The
    oracle replays the window rule verbatim."""
    from docling_translate_spark.operators.sampling import chunk_tokens

    return chunk_tokens(_docs(spark, sf_dir), size=32, stride=24)


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table LSH (rows-only;
    no-false-positives invariant pinned by pytest)."""
    from docling_translate_spark.operators.similarity import cosine_near_dup_pairs

    emb = _emb(spark, sf_dir)
    # these synthetic embeddings are near-uniform (max pairwise cosine
    # ≈0.48), so the "near-dup" threshold sits at the top of that range
    return cosine_near_dup_pairs(emb, dim=64, threshold=0.35, n_planes=6).select(
        "id_a", "id_b"
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data curation flow through the REAL operators:
    extraction → C4 URL/domain blocklist filter → PII redaction →
    quality/lang gates → exact dedup → MinHash-LSH near-dup with
    connected-component removal → benchmark decontamination → token
    accounting. The blocklist branch is value-checked here (r3 verdict
    #6): every 17th doc cites a blocked subdomain with a sentence-final
    '.' (pinning the trailing-dot host strip), every 19th a benign URL
    that must survive; the oracle's bflag CTE is the declarative twin
    of the suffix-expansion anti-join.

    Full DuckDB oracle (r2 verdict #7) via the s28 sanitized-body trick:
    each turn is a guaranteed single plaintext paragraph, so the fused
    kernel's extraction is byte-identity and every later stage has an
    exact SQL twin. Three deterministic branches give each dedup stage
    real work: every doc, a near-dup copy (``' nd'`` tail) for doc_id %
    9 == 0, an exact copy for doc_id % 13 == 0. Rich-text extraction
    inside the same composition stays covered by ``extract_turns`` +
    the pytest golden suite."""
    from docling_translate_spark.operators.sampling import hash_sample
    from docling_translate_spark.pipeline import CurationConfig, curate_turns

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    body = _sanitized_body()
    decorated = F.concat(
        body,
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"), did, F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit(" call +1 555-123-4567 ok")
        ).otherwise(F.lit("")),
        # URL decorations drive the C4 blocklist branch (r3 verdict #6):
        # a subdomain citation of a blocked domain, ending in a
        # sentence-final '.' to pin the trailing-dot host strip, plus a
        # benign URL that must survive
        F.when(
            F.col("doc_id") % 17 == 0,
            F.lit(" via https://ads.blocked-site.com. end"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 19 == 0,
            F.lit(" via https://docs.ok-site.org/guide here"),
        ).otherwise(F.lit("")),
    )

    def branch(filt, idx_off: int, tail: str) -> DataFrame:
        d = docs.filter(filt) if filt is not None else docs
        return d.select(
            F.col("source").alias("conv_id"),
            (F.col("doc_id") + idx_off).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.concat(decorated, F.lit(tail)).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )

    t = (
        branch(None, 0, "")
        .unionAll(branch(F.col("doc_id") % 9 == 0, 1_000_000, " nd"))
        .unionAll(branch(F.col("doc_id") % 13 == 0, 2_000_000, ""))
    )
    eval_set = hash_sample(docs, 0.02).select("doc_id", "text")
    blocklist = spark.createDataFrame(
        [("blocked-site.com",), ("spam-ads.net",)], ["domain"]
    )
    out = curate_turns(
        t,
        CurationConfig(min_quality=0.3, min_chars=10, redact=True, decontam_n=6),
        eval_set=eval_set,
        blocklist=blocklist,
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "pred_lang",
        "quality_score",
        # BIGINT both sides: the driver's value-hash is type-width
        # sensitive (int32 vs int64 mismatched in round 1)
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
    )


def q_s10_history_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 history-folder parse + newest-first (ref utils.py:126-178).
    Folder names synthesized deterministically from documents; every 5th
    name is malformed and must be dropped."""
    from docling_translate_spark.functions.history import parse_history_names

    d = _docs(spark, sf_dir)
    names = d.select(
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("badname_"), F.col("doc_id").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("paper_v"),
                F.col("doc_id").cast("string"),
                F.lit("_en_to_ko_2024"),
                F.lpad(((F.col("doc_id") % 12) + 1).cast("string"), 2, "0"),
                F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"),
                F.lit("_"),
                F.lpad((F.col("doc_id") % 24).cast("string"), 2, "0"),
                F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
                F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
            )
        )
        .alias("folder_name")
    )
    return parse_history_names(names)


def q_w_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (batch form of the
    streaming metrics windows, streaming/extract_stream.py).

    Output is hash-robust by construction: the driver's value hash is
    type/representation sensitive (BIGINT-vs-HUGEINT and DECIMAL-width
    divergences break it — see tools/check_oracle.py), and this query
    previously emitted TIMESTAMP + DECIMAL together, the only one that
    did. Emit the window start as a formatted STRING (tz-free on the
    TIMESTAMP_NTZ events column — an epoch cast would route through the
    session timezone) and the sum as BIGINT integer cents (floor() on
    IEEE doubles is rounding-mode-free, immune to double->decimal
    HALF_UP ties)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).alias("cents"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
            F.col("cents").cast("long").alias("total_value_cents"),
        )
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash+LSH pair edges → connected components
    (min-id label per doc). Full DuckDB oracle: the LSH pair SQL wrapped
    in a recursive min-reachable-label CTE. This is what corpus dedup
    actually keys on — one survivor per component, so a chain A~B~C
    collapses even when A~C was never a candidate pair."""
    from docling_translate_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=64, bands=16, threshold=0.5
    )
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("comp_id")
    )


def q_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-segment removal: consecutive 10-word segments,
    keep each segment only at its globally-first occurrence, reassemble
    docs (full oracle: posexplode/arg-min/string_agg in SQL)."""
    from docling_translate_spark.operators.dedup import dedup_segments

    return dedup_segments(_docs(spark, sf_dir), seg_words=10)


def q_dedupops_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup components + C4 duplicate segments (spec: MEMBER_BATTERIES)."""
    return _battery(spark, sf_dir, "dedupops_battery")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over a deterministically-decorated link graph
    (engine addition, operators/graph.py): docs link to md5-chosen hub
    pages (hot-key in-degree skew by construction), every 7th doc's
    budget instead goes to a hub→hub ring edge (cycles), and the ring
    covers only 13 of the 23 hubs so the other 10 are DANGLING —
    exercising the out-degree split, the agg-shaped gather, and the
    dangling redistribution in one graph. All-BIGINT floor arithmetic
    makes the unrolled DuckDB oracle bit-identical (module docstring)."""
    from docling_translate_spark.operators.graph import pagerank

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")

    def hub(e):
        return F.concat(F.lit("h"), e.cast("string"))

    def pick(tag):
        h = F.md5(F.concat(F.lit("e"), i.cast("string"), F.lit(tag)))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 23

    doc_src = F.concat(F.lit("d"), i.cast("string"))
    e0 = d.filter(i % 7 != 0).select(
        doc_src.alias("src"), hub(pick(":0")).alias("dst")
    )
    e1 = d.filter(i % 7 != 0).select(
        doc_src.alias("src"), hub(pick(":1")).alias("dst")
    )
    ring = d.filter(i % 7 == 0).select(
        hub(i % 13).alias("src"), hub((i + 1) % 13).alias("dst")
    )
    return pagerank(e0.union(e1).union(ring), iters=4)


def q_anchor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text profile (engine addition,
    operators/graph.py::anchor_text_rollup): every doc links one of 7
    md5-chosen hubs with an anchor phrase cycled from a 4-phrase list
    — top-2 anchors per hub by reference count, ties lexicographic,
    ranked via the salted two-phase topk (no hot-key window)."""
    from docling_translate_spark.operators.graph import anchor_text_rollup

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("a"), i.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    anchors = F.array(
        F.lit("home"), F.lit("click here"), F.lit("read more"), F.lit("docs")
    )
    edges = d.select(
        F.concat(F.lit("d"), i.cast("string")).alias("src"),
        F.concat(F.lit("h"), (h % 7).cast("string")).alias("dst"),
        F.element_at(anchors, ((i % 4) + 1).cast("int")).alias("anchor"),
    )
    return anchor_text_rollup(edges, k=2, salt_buckets=8)


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality score: mean −log2 p(token) under
    the corpus's own unigram MLE (full oracle)."""
    from docling_translate_spark.operators.text_analysis import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir))


def q_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-ratio / text-density / link-density boilerplate classification
    (jusText/Boilerpipe-style block heuristics — the docling-style HTML
    main-content extraction the north rule names). Each doc is wrapped
    in a deterministic HTML page — nav link farm, too-short heading,
    genuine content paragraphs (one with inline markup + entities), a
    link-dense related-links block, copyright footer — and the operator
    must keep exactly the content blocks. Full DuckDB oracle: the same
    page build + block classification in SQL list lambdas."""
    from docling_translate_spark.operators.html_boiler import (
        extract_main_content,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    body = F.coalesce(F.col("text"), F.lit(""))
    html = F.concat(
        F.lit(
            '<nav><ul><li><a href="/">Home</a></li>'
            '<li><a href="/docs">Docs</a></li>'
            '<li><a href="/about">About</a></li></ul></nav>'
        ),
        F.lit("<h1>Doc "), did, F.lit("</h1>"),
        F.lit("<p>"), body, F.lit("</p>"),
        F.lit("<p>See the <b>spec &amp; notes</b> for doc "), did,
        F.lit(" with <a href=\"/d/"), did, F.lit("\">one link</a> "),
        F.lit("inside a longer paragraph of running text.</p>"),
        F.lit(
            '<div class="rel">Related: <a href="/a">a</a> '
            '<a href="/b">b</a> <a href="/c">c</a></div>'
        ),
        F.lit("<footer>© 2026 Example Corp — All rights reserved</footer>"),
    )
    return extract_main_content(d.select("doc_id", html.alias("text")))


def q_scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function battery in ONE driver slot — the gate records only
    the first 50 ``queries()`` entries, so the four per-doc scalar
    queries share a query: O2 tooltip truncation (ref
    text_html_generator.py:498), S9 base64 payload (ref utils.py:114),
    P6 empty-input guard (ref engines/google.py:24-25), and the §2.9
    language-code battery (ref translation/utils.py:11-48). Every column
    is value-checked by the single merged oracle, identical coverage to
    the four stand-alone queries they replace."""
    from docling_translate_spark.functions.langcodes import (
        deepl_lang_col,
        language_name_col,
    )

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.when(
            F.length("text") > 200,
            F.concat(F.substring("text", 1, 200), F.lit("...")),
        )
        .otherwise(F.col("text"))
        .alias("tooltip"),
        F.base64(F.encode(F.substring("text", 1, 48), "UTF-8")).alias("b64"),
        F.when(F.trim("text") == "", F.lit("")).otherwise(F.col("text")).alias("out"),
        language_name_col(F.col("lang")).alias("lang_name"),
        deepl_lang_col(F.col("lang")).alias("deepl_code"),
    )


def q_statfmt_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 StatRecord-style run rollup + P5 formula formatting in ONE
    gate slot (tagged union) — the last two SURVEY §2 rows that had
    gate coverage only through pytest.

    Branch 'stat' runs :func:`metrics.stat_records` over the FUSED
    extraction of sanitized single-paragraph turns (byte-identity
    there, the extract_turns discipline) — one row per run metric
    (turns / spans / chars), the reference's benchmark-stats rollup
    (ref app.py run stats). Branch 'p5' pushes every document's text —
    deterministically decorated so all four ``format_formula`` branches
    fire (already-$-delimited, \\[-delimited, \\(-delimited, aligned-&,
    bare) — through the JVM column twin of the reference's MathJax
    wrapper (ref html_generator.py:48-64). Both branches value-check
    against one merged DuckDB oracle; ``n`` is NULL on the p5 branch
    (the formatted string itself is hashed, so a separate length would
    only re-test engine length semantics)."""
    from docling_translate_spark.functions.render import format_formula_col
    from docling_translate_spark.operators.extract import (
        ExtractConfig,
        extract_turns_fused,
    )
    from docling_translate_spark.operators.metrics import stat_records

    ext = extract_turns_fused(
        _sanitized_turns(spark, sf_dir), ExtractConfig(ordered=True)
    )
    stats = stat_records(ext).select(
        F.lit("stat").alias("branch"),
        F.col("metric").alias("key"),
        F.col("count").cast("long").alias("n"),
        F.col("unit").alias("s"),
    )
    d = _docs(spark, sf_dir)
    m = F.col("doc_id") % 7
    deco = (
        F.when(m == 0, F.concat(F.lit("$"), F.col("text")))
        .when(m == 1, F.concat(F.lit("\\["), F.col("text")))
        .when(m == 2, F.concat(F.lit("\\("), F.col("text")))
        .when(m == 3, F.concat(F.lit("a & b "), F.col("text")))
        .when(m == 4, F.concat(F.lit("  $pad "), F.col("text")))
        .otherwise(F.col("text"))
    )
    p5 = d.select(
        F.lit("p5").alias("branch"),
        F.col("doc_id").cast("string").alias("key"),
        F.lit(None).cast("long").alias("n"),
        format_formula_col(deco).alias("s"),
    )
    return stats.unionByName(p5)


def q_toggles_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 enrichment-toggle matrix as ONE gate slot — three full
    extraction runs over sanitized single-paragraph turns (byte-identity
    there, the extract_turns discipline), each under a different
    ``ExtractConfig``, unioned with a branch tag so every toggle's
    OUTPUT is value-checked, not just exercised (the reference's
    enrichment checkboxes, ref app.py sidebar → core.py toggles):

    - ``marker``: the observable map engine (``s → <<s>>``) under the
      default in-batch dedup scope — join-back multiplicity and text
      threading are hash-checked per turn;
    - ``trunc``: the 512-char tokenizer-truncation analog (ref
      engines/nllb.py:139) — fires on the long-document tail
      (30-39 docs at these SFs), SQL twin is ``substring``;
    - ``sent``: ``sentence_split=True`` on single-sentence bodies —
      the sentence pipeline (tokenize → per-sentence map → ' ' rejoin)
      must reproduce the input byte-for-byte, value-checking that the
      split/rejoin path corrupts nothing."""
    from docling_translate_spark.operators.extract import (
        ExtractConfig,
        extract_turns_fused,
    )

    turns = _sanitized_turns(spark, sf_dir)
    branches = {
        "marker": ExtractConfig(engine="marker"),
        "trunc": ExtractConfig(engine="truncate512"),
        "sent": ExtractConfig(sentence_split=True),
    }
    outs = [
        extract_turns_fused(turns, cfg).select(
            F.lit(name).alias("branch"),
            "conv_id",
            "turn_idx",
            F.col("extracted_text").alias("out"),
        )
        for name, cfg in branches.items()
    ]
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate token runs — the relational ExactSubstr
    dedup shape (Lee et al. 2021; SURVEY §2.23). Positioned k-gram
    inverted index + equal-offset island detection; the run window
    partitions on (pair, offset) so no partition outgrows a document."""
    from docling_translate_spark.operators.dedup import duplicate_spans

    return duplicate_spans(
        _docs(spark, sf_dir), k=4, min_run=3, max_occurrences=200
    )


def q_url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + crawl-frontier dedup (SURVEY §2.24) over
    deterministically-decorated messy URLs: mixed-case scheme/host,
    default and non-default ports, tracking params, fragments, and
    non-URL junk — every branch a doc_id modulus mirrored in the
    oracle. Output: per-doc canonical form joined with the frontier
    aggregate (first-seen id + duplicate count)."""
    from docling_translate_spark.operators.scrub import (
        canonical_url_col,
        url_frontier,
    )

    i = F.col("doc_id")
    base = F.concat(
        F.when(i % 2 == 0, F.lit("HTTPS://WWW.Site")).otherwise(F.lit("http://site")),
        (i % 5).cast("string"),
        F.lit(".Example.COM"),
        F.when(i % 2 == 0, F.lit(":443"))
        .when(i % 3 == 0, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/page/"),
        (i % 11).cast("string"),
        F.when(i % 3 == 0, F.lit("?utm_source=feed&b=2&a=1&fbclid=x"))
        .when(i % 3 == 1, F.lit("?a=1&b=2"))
        .otherwise(F.lit("")),
        F.when(i % 4 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    url = F.when(i % 17 == 0, F.lit("not a url")).otherwise(base)
    decorated = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    per_doc = decorated.select(
        "doc_id", canonical_url_col(F.col("url")).alias("canonical_url")
    ).filter(F.col("canonical_url").isNotNull())
    return per_doc.join(url_frontier(decorated), "canonical_url").select(
        "doc_id", "canonical_url", "first_id", "n_seen"
    )


# Member batteries: each is ONE registered query that runs several
# member queries (q_<member> on Spark, sql[<member>] on DuckDB) as a
# tagged union. The members are not registered on their own. One spec
# per battery builds both sides: (tag column, [(tag, member,
# [harmonising exprs])]). Every expr must mean the same in Spark SQL
# and DuckDB (CAST(x AS BIGINT|STRING|DOUBLE), '', plain column names).
MEMBER_BATTERIES: dict[str, tuple[str, list[tuple[str, str, list[str]]]]] = {
    "hashsig_battery": ("branch", [
        ("exact", "dedup_exact", [
            "text_hash AS k",
            "CAST(rep_id AS BIGINT) AS v1",
            "CAST(n_dups AS BIGINT) AS v2",
        ]),
        ("simhash", "dedup_simhash", [
            "CAST(doc_id AS STRING) AS k",
            "CAST(simhash AS BIGINT) AS v1",
            "CAST(0 AS BIGINT) AS v2",
        ]),
    ]),
    "nearpair_battery": ("part", [
        ("minhash", "dedup_minhash_lsh", ["id_a", "id_b"]),
        ("ngram", "dedup_ngram_jaccard", ["id_a", "id_b"]),
    ]),
    "dedupops_battery": ("branch", [
        ("components", "dedup_components", [
            "doc_id", "CAST(comp_id AS STRING) AS c1", "'' AS c2",
        ]),
        ("segments", "dedup_segments", [
            "doc_id",
            "clean_text AS c1",
            "CAST(n_kept_segments AS STRING) AS c2",
        ]),
    ]),
    "ann_battery": ("part", [
        ("exact", "ann_topk", ["query_id", "neighbor_id", "rank"]),
        ("lsh", "ann_lsh", ["query_id", "neighbor_id", "rank"]),
    ]),
    "embeddup_battery": ("part", [
        ("exact", "embed_near_dup_exact", ["id_a", "id_b"]),
        ("lsh", "embed_near_dup", ["id_a", "id_b"]),
    ]),
    "docquality_battery": ("branch", [
        ("html_main", "html_main_content", [
            "doc_id",
            "main_text AS c1",
            "CAST(n_blocks AS BIGINT) AS l1",
            "CAST(n_content_blocks AS BIGINT) AS l2",
            "CAST(boilerplate_ratio AS DOUBLE) AS d1",
        ]),
        ("unigram", "unigram_logprob", [
            "doc_id",
            "'' AS c1",
            "CAST(n_tokens AS BIGINT) AS l1",
            "CAST(0 AS BIGINT) AS l2",
            "CAST(avg_neg_log2p AS DOUBLE) AS d1",
        ]),
    ]),
    "sentloc_battery": ("branch", [
        ("t8", "t8_sentences", [
            "doc_id", "CAST(n_sentences AS STRING) AS c1", "'' AS c2", "'' AS c3",
        ]),
        ("i18n", "i18n_localize", [
            "doc_id", "ui_key AS c1", "ui_lang AS c2", "localized AS c3",
        ]),
    ]),
}


def _battery(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Spark side of a ``MEMBER_BATTERIES`` entry."""
    tag_col, branches = MEMBER_BATTERIES[name]
    parts = [
        globals()["q_" + member](spark, sf_dir).selectExpr(
            f"'{tag}' AS {tag_col}", *exprs
        )
        for tag, member, exprs in branches
    ]
    return functools.reduce(DataFrame.unionByName, parts)


def _battery_sql(sql: dict[str, str], name: str) -> str:
    """DuckDB side of a ``MEMBER_BATTERIES`` entry, around member SQL."""
    tag_col, branches = MEMBER_BATTERIES[name]
    return " UNION ALL ".join(
        f"SELECT '{tag}' AS {tag_col}, {', '.join(exprs)} FROM ({sql[member]})"
        for tag, member, exprs in branches
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Gate rule: each operator is checked by exactly one entry here.
    # A battery's members (MEMBER_BATTERIES, or q_* functions a battery
    # calls) are not registered on their own. The gate records only
    # the FIRST 50 entries, the recorded block; tools/check_oracle.py
    # checks all of them. tests/test_gate_contract.py pins the rule and
    # the queries()/oracle_sql() key parity.
    return {
        "extract_turns": q_extract_turns,
        "dedup_incremental": q_dedup_incremental,
        "ann_ivf": q_ann_ivf,
        "decontaminate": q_decontaminate,
        "s1_format_detect": q_s1_format_detect,
        "conv_shape": q_conv_shape,
        "curation_pipeline": q_curation_pipeline,
        "bloom_filter": q_bloom_filter,
        "domain_profile": q_domain_profile,
        "corpus_profile": q_corpus_profile,
        "chunk_tokens": q_chunk_tokens,
        "shard_manifest": q_shard_manifest,
        "anchor_rollup": q_anchor_rollup,
        "topk_group": q_topk_group,
        "quality_audit": q_quality_audit,
        "snapshot_churn": q_snapshot_churn,
        "badwords_filter": q_badwords_filter,
        "layout_order": q_layout_order,
        "dom_tokens": q_dom_tokens,
        "hll_distinct": q_hll_distinct,
        "cms_hitters": q_cms_hitters,
        "dsir_select": q_dsir_select,
        "statfmt_battery": q_statfmt_battery,
        "toggles_battery": q_toggles_battery,
        "semdedup": q_semdedup,
        "semantic_decontam": q_semantic_decontam,
        "ann_ivfpq": q_ann_ivfpq,
        "bitext_margin": q_bitext_margin,
        "bpe_pairs": q_bpe_pairs,
        "dup_spans": q_dup_spans,
        "template_families": q_template_families,
        "url_frontier": q_url_frontier,
        "asof_join": q_asof_join,
        "a6_extraction_rollup": q_a6_extraction_rollup,
        "hashsig_battery": q_hashsig_battery,
        "source_overlap": q_source_overlap,
        "nearpair_battery": q_nearpair_battery,
        "dedupops_battery": q_dedupops_battery,
        "pagerank": q_pagerank,
        "ann_battery": q_ann_battery,
        "embeddup_battery": q_embeddup_battery,
        "vocab_divergence": q_vocab_divergence,
        "nb_quality": q_nb_quality,
        "docquality_battery": q_docquality_battery,
        "quantized_ann": q_quantized_ann,
        "sample_battery": q_sample_battery,
        "sentloc_battery": q_sentloc_battery,
        "eventmedia_battery": q_eventmedia_battery,
        "w_window_agg": q_w_window_agg,
        "centroid_dots": q_centroid_dots,
        # ---- tail: below the 50-slot recorded cap ----
        "weighted_sample": q_weighted_sample,
        "winnow_fingerprints": q_winnow_fingerprints,
        "bigram_lm": q_bigram_lm,
        "tfidf_keywords": q_tfidf_keywords,
        "bm25_topk": q_bm25_topk,
        "norm_dedup": q_norm_dedup,
        "text_battery": q_text_battery,
        "dsir_weights": q_dsir_weights,
        "scalar_battery": q_scalar_battery,
        "a1_distinct_dedup": q_a1_distinct_dedup,
        "winnow_pairs": q_winnow_pairs,
        "s8_embed_media": q_s8_embed_media,
        "rolling_fingerprint": q_rolling_fingerprint,
        "fingerprint": q_fingerprint,
        "s7_render_document": q_s7_render_document,
        "p3_boilerplate_strip": q_p3_boilerplate_strip,
        "p4_formula_detect": q_p4_formula_detect,
        "w2_change_marker": q_w2_change_marker,
        "w5_history_latest": q_w5_history_latest,
        "j3_left_join_fallback": q_j3_left_join_fallback,
        "o1_longest_first": q_o1_longest_first,
        "w1_rownum_order": q_w1_rownum_order,
        "a7_per_kind_counter": q_a7_per_kind_counter,
        "s10_history_parse": q_s10_history_parse,
        "p1_nonempty_filter": q_p1_nonempty_filter,
        "a3_char_volume": q_a3_char_volume,
        "s7_render_html": q_s7_render_html,
        "s28_table_spans": q_s28_table_spans,
        "pii_redact": q_pii_redact,
        "repetition": q_repetition,
        "pack_sequences": q_pack_sequences,
        "j2_broadcast_join": q_j2_broadcast_join,
    }


# DuckDB twin of ``_ws_tokens`` — the ONE token-row definition shared
# by the hll_distinct and bloom_filter oracles (gate-proven \s+ split)
_TOKEN_ROWS_SQL = """
    SELECT doc_id, t.tok AS tok
    FROM documents,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(tok)
    WHERE t.tok <> ''
"""


def _hll_oracle() -> str:
    """DuckDB twin of ``q_hll_distinct``: the md5-nibble register
    formula replayed from the operator's OWN constants (single source
    of truth — M/RANK_CAP/EST_NUMERATOR imported, the numerator
    embedded via Python repr so both engines divide the same double).
    Register sums are exact BIGINTs, so the only float op is the one
    final division — see operators/sketch.py for the portability
    argument."""
    from docling_translate_spark.operators.sketch import (
        EST_NUMERATOR,
        M,
        RANK_CAP,
        W_BITS,
    )

    def sketch(rel: str, group: str) -> str:
        return f"""
            SELECT {group} AS source,
                   sum(CASE WHEN rank = 0 THEN 1 ELSE 0 END)::BIGINT AS v_zero,
                   sum((2::BIGINT ** ({RANK_CAP} - rank))::BIGINT)::BIGINT AS hll_units,
                   CAST(floor({EST_NUMERATOR!r} /
                        sum((2::BIGINT ** ({RANK_CAP} - rank))::BIGINT)::BIGINT)
                        AS BIGINT) AS hll_estimate
            FROM (
                SELECT a.source, a.bucket, coalesce(sp.rank, 0) AS rank
                FROM (
                    SELECT source, b.range AS bucket
                    FROM (SELECT DISTINCT source FROM {rel}) s,
                         range({M}) b
                ) a LEFT JOIN (
                    SELECT source,
                           ('0x' || substr(md5(v), 1, 3))::UBIGINT::BIGINT AS bucket,
                           max(least({RANK_CAP},
                               {W_BITS + 1} - length(bin(
                                   ('0x' || substr(md5(v), 4, 13))::UBIGINT::BIGINT
                               )))) AS rank
                    FROM {rel} WHERE v IS NOT NULL GROUP BY 1, 2
                ) sp USING (source, bucket)
            ) GROUP BY 1
        """

    return f"""
        WITH txt AS (SELECT source, text AS v FROM documents),
        tok AS (
            SELECT '*' AS source, tok AS v FROM ({_TOKEN_ROWS_SQL})
        )
        SELECT 'text' AS scope, * FROM ({sketch('txt', 'source')})
        UNION ALL
        SELECT 'tokens' AS scope, * FROM ({sketch('tok', 'source')})
    """


def _bloom_oracle() -> str:
    """DuckDB twin of ``q_bloom_filter``: the md5-slice Bloom formula
    replayed from the operator's OWN constants (same single-source
    discipline as ``_hll_oracle``). Positions are 5-nibble hex slices
    read exactly (no modulo), words are ``pos // 32`` with bit_or'd
    positive BIGINT masks, and the probe's maybe-bit is the AND over
    the k per-slice checks — bit-for-bit the distributed plan,
    including any (deterministic) false positives."""
    from docling_translate_spark.operators.sketch import (
        BLOOM_K,
        BLOOM_WORD_BITS,
    )

    wb = BLOOM_WORD_BITS
    return f"""
        WITH tokd AS (
            SELECT DISTINCT doc_id, tok FROM ({_TOKEN_ROWS_SQL})
        ),
        build_toks AS (SELECT DISTINCT tok FROM tokd WHERE doc_id % 3 = 0),
        probe_toks AS (SELECT DISTINCT tok FROM tokd),
        build_pos AS (
            SELECT ('0x' || substr(md5(tok), 1 + 5 * i.range, 5))
                       ::UBIGINT::BIGINT AS pos
            FROM build_toks, range({BLOOM_K}) i
        ),
        words AS (
            SELECT pos // {wb} AS word,
                   bit_or((2::BIGINT ** (pos % {wb}))::BIGINT)::BIGINT AS mask
            FROM build_pos GROUP BY 1
        ),
        probe_pos AS (
            SELECT tok,
                   ('0x' || substr(md5(tok), 1 + 5 * i.range, 5))
                       ::UBIGINT::BIGINT AS pos
            FROM probe_toks, range({BLOOM_K}) i
        ),
        probe AS (
            SELECT p.tok,
                   min(CASE WHEN (coalesce(w.mask, 0)
                                  & (2::BIGINT ** (p.pos % {wb}))::BIGINT)
                                 = (2::BIGINT ** (p.pos % {wb}))::BIGINT
                            THEN 1 ELSE 0 END)::BIGINT AS maybe
            FROM probe_pos p LEFT JOIN words w ON w.word = p.pos // {wb}
            GROUP BY 1
        )
        SELECT 'w' AS part, word, mask,
               NULL::VARCHAR AS tok, NULL::BIGINT AS maybe
        FROM words
        UNION ALL
        SELECT 'p' AS part, NULL::BIGINT AS word, NULL::BIGINT AS mask,
               tok, maybe
        FROM probe
    """


def _bm25_oracle() -> str:
    """DuckDB twin of ``q_bm25_topk``: identical tokenization (the
    gate-proven ``\\s+`` split), the identical left-associative FP
    expression tree per term, and micro-unit BIGINT term quantization
    so the per-doc sum is order-free (see operators/retrieval.py for
    the cross-engine argument). Constants are embedded via Python repr
    so both engines parse the exact same doubles (k1+1 computed once
    here, not re-derived in SQL)."""
    terms = sorted(set(_BM25_PROBE.lower().split()))
    k1v, bv = _BM25_K1, _BM25_B
    tf_cols = ",\n                     ".join(
        f"len(list_filter(toks, t -> t = '{t}'))::BIGINT AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n                     ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df{i}"
        for i in range(len(terms))
    )
    matched = " + ".join(
        f"CASE WHEN b.tf{i} > 0 THEN 1 ELSE 0 END"
        for i in range(len(terms))
    )
    micro = "\n                 + ".join(
        f"CASE WHEN b.tf{i} > 0 AND s.sdl > 0 THEN CAST(round("
        f"ln(1.0 + (s.n::DOUBLE - s.df{i}::DOUBLE + 0.5)"
        f" / (s.df{i}::DOUBLE + 0.5))"
        f" * ((b.tf{i}::DOUBLE * {k1v + 1.0!r})"
        f" / (b.tf{i}::DOUBLE + {k1v!r} * ({1.0 - bv!r} + {bv!r}"
        f" * (b.dl::DOUBLE / (s.sdl::DOUBLE / s.n::DOUBLE)))))"
        f" * 1000000.0) AS BIGINT) ELSE 0 END"
        for i in range(len(terms))
    )
    return rf"""
        WITH tk AS (
          SELECT doc_id,
                 list_filter(
                     regexp_split_to_array(trim(lower(coalesce(text, ''))),
                                           '\s+'),
                     t -> t <> '') AS toks
          FROM documents
        ), base AS (
          SELECT doc_id, len(toks)::BIGINT AS dl,
                     {tf_cols}
          FROM tk
        ), stats AS (
          SELECT count(*)::BIGINT AS n,
                 coalesce(sum(dl), 0)::BIGINT AS sdl,
                     {df_cols}
          FROM base
        )
        SELECT b.doc_id,
               ({matched})::BIGINT AS matched,
               CAST({micro} AS DOUBLE) / 1000000.0 AS score
        FROM base b, stats s
        ORDER BY score DESC, b.doc_id
        LIMIT {_BM25_K}
    """


def _layout_oracle() -> str:
    r"""DuckDB twin of ``q_layout_order``: rebuilds the identical
    md5-derived block table (same ``('0x'||substr(md5(..),1,15))``
    60-bit integers, same div/mod geometry), then mirrors the
    operator's decisions — furniture split, per-(doc, page) two-column
    windows, the (body DESC, page, col, y0, x0, block_id) reading
    order, ``len+2`` prefix-sum spans, and the (gap, |dx|, id) arg-min
    caption attachment. Every comparison is on exact integers."""
    return r"""
        WITH blk AS (
          SELECT d.doc_id,
                 g.bid::BIGINT AS block_id,
                 (g.bid >= 4)::BIGINT AS page,
                 ('0x' || substr(md5(d.doc_id::VARCHAR || ':'
                                     || g.bid::VARCHAR), 1, 15))::BIGINT AS h,
                 coalesce(d.text, '') AS dtxt
          FROM documents d, (SELECT unnest(generate_series(0, 7)) AS bid) g
        ), geo AS (
          SELECT doc_id, block_id, page,
                 h % 400 + 500 * ((h // 400) % 2) AS x0,
                 (h // 800) % 1000 AS y0,
                 least(h % 400 + 500 * ((h // 400) % 2)
                       + 80 + (h // 13) % 500, 1000) AS x1,
                 least((h // 800) % 1000 + 20 + (h // 29) % 60, 1000) AS y1,
                 (['text','text','text','table','figure','caption'])
                     [(h % 6)::INT + 1] AS kind,
                 substr(dtxt, (1 + h % 40)::INT, 16) AS txt
          FROM blk
        ), rol AS (
          SELECT *, CASE WHEN y0 >= 950 THEN 'furniture' ELSE 'body' END
                    AS role
          FROM geo
        ), pg AS (
          SELECT *,
            coalesce(
              max(CASE WHEN role = 'body' THEN x1 - x0 END)
                  OVER (PARTITION BY doc_id, page) < 490
              AND sum(CASE WHEN role = 'body' AND x0 < 500
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id, page) > 0
              AND sum(CASE WHEN role = 'body' AND x0 >= 500
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id, page) > 0,
              FALSE) AS two_col
          FROM rol
        ), colc AS (
          SELECT *,
                 (CASE WHEN role = 'body' AND two_col AND x0 >= 500
                       THEN 1 ELSE 0 END)::BIGINT AS col_idx
          FROM pg
        ), ordered AS (
          SELECT *,
                 row_number() OVER w AS rn,
                 coalesce(sum(CASE WHEN role = 'body'
                                   THEN length(txt) + 2 ELSE 0 END)
                     OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS cum
          FROM colc
          WINDOW w AS (PARTITION BY doc_id
                       ORDER BY (role = 'body') DESC, page, col_idx,
                                y0, x0, block_id)
        ), best AS (
          SELECT cd, cb, ab AS caption_of FROM (
            SELECT c.doc_id AS cd, c.block_id AS cb, a.block_id AS ab,
                   row_number() OVER (
                       PARTITION BY c.doc_id, c.block_id
                       ORDER BY c.y0 - a.y1, abs(c.x0 - a.x0),
                                a.block_id) AS arn
            FROM rol c JOIN rol a
              ON c.doc_id = a.doc_id AND c.page = a.page
             AND c.role = 'body' AND c.kind = 'caption'
             AND a.role = 'body' AND a.kind IN ('table', 'figure')
             AND a.y1 <= c.y0
          ) WHERE arn = 1
        )
        SELECT o.doc_id, o.block_id, o.page, o.kind, o.role, o.col_idx,
               (CASE WHEN o.role = 'body' THEN o.rn END)::BIGINT
                   AS order_idx,
               (CASE WHEN o.role = 'body' THEN o.cum END)::BIGINT
                   AS char_start,
               (CASE WHEN o.role = 'body' THEN o.cum + length(o.txt)
                END)::BIGINT AS char_end,
               b.caption_of
        FROM ordered o
        LEFT JOIN best b ON o.doc_id = b.cd AND o.block_id = b.cb
    """


def _dom_tokens_oracle() -> str:
    """DuckDB twin of ``q_dom_tokens``: the identical page build, then
    the SAME lexer regex (imported from the operator module so query
    and oracle cannot drift) replayed with ``regexp_extract_all`` +
    ``generate_subscripts``, and the classifier as string CASEs —
    bare '<'/'&' → text, '</' → close, '<!'/'<?' → decl, '…/>' → self,
    '<' → open, '&…;' → entity; tag tokens lower-case their name via
    the shared TAG_NAME_RE. ``strlen`` is DuckDB's byte length."""
    from docling_translate_spark.operators.dom_tokens import (
        LEXER_RE,
        TAG_NAME_RE,
    )

    p1 = (
        '<!DOCTYPE html><nav><a href="/">Home</a> &middot; '
        '<a href="/docs">Docs</a></nav><h1>Doc '
    )
    p2 = '</p><p>spec &amp; notes &#169; <img src="/img/'
    p3 = '.png"/> tail: a<b & AT&T</p><footer>fin</footer>'
    return f"""
        WITH page AS (
          SELECT doc_id,
                 '{p1}' || doc_id::VARCHAR || '</h1><p>'
                 || coalesce(text, '') || '{p2}' || doc_id::VARCHAR
                 || '{p3}' AS html
          FROM documents WHERE doc_id % 5 = 0
        ), lex AS (
          SELECT doc_id,
                 regexp_extract_all(html, '{LEXER_RE}') AS ts
          FROM page
        ), tok AS (
          SELECT doc_id, unnest(ts) AS t,
                 (generate_subscripts(ts, 1) - 1)::BIGINT AS tok_idx
          FROM lex
        )
        SELECT doc_id, tok_idx,
          CASE WHEN t IN ('<', '&') THEN 'text'
               WHEN substr(t, 1, 2) = '</' THEN 'close'
               WHEN substr(t, 1, 2) IN ('<!', '<?') THEN 'decl'
               WHEN substr(t, 1, 1) = '<' AND t LIKE '%/>' THEN 'self'
               WHEN substr(t, 1, 1) = '<' THEN 'open'
               WHEN substr(t, 1, 1) = '&' THEN 'entity'
               ELSE 'text' END AS kind,
          CASE WHEN substr(t, 1, 1) = '<' AND t <> '<'
                    AND substr(t, 1, 2) NOT IN ('<!', '<?')
               THEN lower(regexp_extract(t, '{TAG_NAME_RE}', 1))
               ELSE t END AS tok,
          strlen(t)::BIGINT AS nbytes
        FROM tok
    """


def _html_main_oracle() -> str:
    """DuckDB twin of ``q_html_main_content``: the deterministic page
    build plus the jusText/Boilerpipe-style block classification in list
    lambdas. The split/tag/link regexes and the line-boilerplate battery
    are taken from the live operator module so the sides cannot drift.
    DuckDB divergences handled: ``regexp_replace`` needs the ``'g'``
    flag (Spark is global by default) and int/int division truncates
    (cast to DOUBLE)."""
    from docling_translate_spark.classify import BOILERPLATE_LINE_REGEX
    from docling_translate_spark.operators.html_boiler import (
        ANY_TAG_REGEX,
        BLOCK_SPLIT_REGEX,
        DEFAULT_MAX_LINK_DENSITY,
        DEFAULT_MAX_TAG_RATIO,
        DEFAULT_MIN_WORDS,
        LINK_TEXT_REGEX,
    )

    def strip(expr: str) -> str:
        return (
            "trim(regexp_replace(replace(replace(replace(replace("
            f"regexp_replace({expr}, '{ANY_TAG_REGEX}', ' ', 'g'), "
            "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'), "
            r"'\s+', ' ', 'g'))"
        )

    words = (
        "(CASE WHEN s.txt = '' THEN 0 "
        r"ELSE len(string_split_regex(s.txt, '\s+')) END)"
    )
    return rf"""
WITH page AS MATERIALIZED (
  SELECT doc_id,
         '<nav><ul><li><a href="/">Home</a></li>'
         || '<li><a href="/docs">Docs</a></li>'
         || '<li><a href="/about">About</a></li></ul></nav>'
         || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>'
         || '<p>' || coalesce(text, '') || '</p>'
         || '<p>See the <b>spec &amp; notes</b> for doc '
         || CAST(doc_id AS VARCHAR)
         || ' with <a href="/d/' || CAST(doc_id AS VARCHAR)
         || '">one link</a> '
         || 'inside a longer paragraph of running text.</p>'
         || '<div class="rel">Related: <a href="/a">a</a> '
         || '<a href="/b">b</a> <a href="/c">c</a></div>'
         || '<footer>© 2026 Example Corp — All rights reserved</footer>'
         AS html
  FROM documents
), blk AS MATERIALIZED (
  SELECT doc_id,
         list_filter(list_transform(
             regexp_split_to_array(html, '{BLOCK_SPLIT_REGEX}'),
             b -> trim(b)), b -> b <> '') AS blocks
  FROM page
), info AS MATERIALIZED (
  SELECT doc_id,
         list_transform(blocks, b -> struct_pack(
             txt := {strip('b')},
             -- coalesce: DuckDB array_to_string([]) is NULL where
             -- Spark's array_join([]) is ''
             lc := length(coalesce(array_to_string(list_transform(
                 regexp_extract_all(b, '{LINK_TEXT_REGEX}', 1),
                 a -> {strip('a')}), ' '), '')),
             nt := len(regexp_extract_all(b, '{ANY_TAG_REGEX}', 0))
         )) AS infos
  FROM blk
), judged AS MATERIALIZED (
  SELECT doc_id, len(infos) AS n_blocks,
         list_transform(infos, s -> struct_pack(
             txt := s.txt,
             ok := {words} >= {DEFAULT_MIN_WORDS}
                   AND CAST(s.lc AS DOUBLE)
                       / greatest(length(s.txt), 1)
                       < {DEFAULT_MAX_LINK_DENSITY}
                   AND CAST(s.nt AS DOUBLE) / greatest({words}, 1)
                       <= {DEFAULT_MAX_TAG_RATIO}
                   AND NOT regexp_matches(s.txt,
                       '{BOILERPLATE_LINE_REGEX}')
         )) AS js
  FROM info
)
SELECT doc_id,
       coalesce(array_to_string(list_transform(list_filter(js, s -> s.ok),
                                s -> s.txt), chr(10)), '') AS main_text,
       CAST(n_blocks AS BIGINT) AS n_blocks,
       CAST(len(list_filter(js, s -> s.ok)) AS BIGINT) AS n_content_blocks,
       CASE WHEN n_blocks = 0 THEN 0.0
            ELSE round(1 - CAST(len(list_filter(js, s -> s.ok)) AS DOUBLE)
                           / n_blocks, 6)
       END AS boilerplate_ratio
FROM judged
"""


def _pii_oracle() -> str:
    """DuckDB CTE chain for ``q_pii_redact``, generated from the live
    ``scrub._ORDERED`` battery: one stage per PII family, each counting
    on the intermediate state its replacement saw — exactly the kernel's
    semantics, immune to regex drift between the two sides."""
    from docling_translate_spark.operators.scrub import _ORDERED

    decorate = """
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 = 0
                             THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                  || '@example.com now' ELSE '' END
                     || CASE WHEN doc_id % 5 = 0
                             THEN ' call +1 555-123-4567 ok' ELSE '' END
                     || CASE WHEN doc_id % 7 = 0
                             THEN ' host 10.0.0.' || CAST(doc_id % 200 AS VARCHAR)
                                  || ' up' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                             THEN ' pay 4111 1111 1111 1111 thanks' ELSE '' END
                     AS t0
              FROM documents
    """
    ctes = [f"d AS ({decorate})"]
    done: list[str] = []
    for i, (name, pat, marker) in enumerate(_ORDERED):
        lit = pat.replace("'", "''")
        carried = ", ".join(["doc_id"] + [f"n_{c}" for c in done])
        src = "d" if i == 0 else f"s{i}"
        ctes.append(
            f"s{i + 1} AS (SELECT {carried},\n"
            f"  CAST(len(regexp_extract_all(t{i}, '{lit}')) AS BIGINT)"
            f" AS n_{name},\n"
            f"  regexp_replace(t{i}, '{lit}', '{marker}', 'g') AS t{i + 1}\n"
            f"  FROM {src})"
        )
        done.append(name)
    total = " + ".join(f"n_{c}" for c in done)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT doc_id, t{len(done)} AS clean_text, "
        + ", ".join(f"n_{c}" for c in done)
        + f", {total} AS n_pii FROM s{len(done)}"
    )


def _curation_oracle() -> str:
    """DuckDB twin of ``q_curation_pipeline`` (r2 verdict #7): the whole
    composed flow as one CTE chain — sanitized-turn derivation, the live
    ``scrub._ORDERED`` redaction battery, quality/lang/token/fingerprint
    features, the quality gate, exact dedup, MinHash(128)+LSH(32 bands)
    candidate pairs with the estimate filter, connected components as a
    recursive CTE (min reachable label), and 6-gram decontamination
    against the md5-sampled eval set. Hash params and regexes are taken
    from the live operators, so the two sides cannot drift apart."""
    from docling_translate_spark.operators.dedup import _MINHASH_P, _hash_params
    from docling_translate_spark.operators.scrub import _ORDERED, URL_RE

    url_lit = URL_RE.replace("'", "''")

    a128, b128 = _hash_params(128, 7)
    a_lit = "[" + ",".join(str(int(x)) for x in a128) + "]"
    b_lit = "[" + ",".join(str(int(x)) for x in b128) + "]"
    ev_cut = format(int(0.02 * (1 << 64)), "016x")  # hash_sample(0.02)

    # redaction: one CTE per PII family, in battery order, t0 -> t4
    redact_ctes = []
    for i, (_, pat, marker) in enumerate(_ORDERED):
        lit = pat.replace("'", "''")
        redact_ctes.append(
            f"r{i + 1} AS MATERIALIZED (SELECT conv_id, turn_idx,\n"
            f"  regexp_replace(t{i}, '{lit}', '{marker}', 'g') AS t{i + 1}\n"
            f"  FROM r{i})"
        )
    n_r = len(_ORDERED)
    redact_block = ",\n".join(redact_ctes)

    return rf"""
WITH RECURSIVE base AS MATERIALIZED (
  SELECT source AS conv_id, doc_id,
         trim('w ' || trim(regexp_replace(regexp_replace(
             lower(coalesce(text, '')), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')))
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com now' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call +1 555-123-4567 ok' ELSE '' END
         || CASE WHEN doc_id % 17 = 0
                 THEN ' via https://ads.blocked-site.com. end' ELSE '' END
         || CASE WHEN doc_id % 19 = 0
                 THEN ' via https://docs.ok-site.org/guide here' ELSE '' END
         AS extracted
  FROM documents
), turns AS MATERIALIZED (
  SELECT conv_id, CAST(doc_id AS INTEGER) AS turn_idx, extracted FROM base
  UNION ALL
  SELECT conv_id, CAST(doc_id + 1000000 AS INTEGER), extracted || ' nd'
  FROM base WHERE doc_id % 9 = 0
  UNION ALL
  SELECT conv_id, CAST(doc_id + 2000000 AS INTEGER), extracted
  FROM base WHERE doc_id % 13 = 0
), rpre AS MATERIALIZED (
  SELECT conv_id, turn_idx, extracted AS t0 FROM turns
  WHERE length(extracted) >= 10
), bflag AS MATERIALIZED (
  -- C4 blocklist twin: hosts of every URL, trailing './-' stripped,
  -- flagged when any registrable suffix is blocked (exact or
  -- subdomain) — the LIKE form is the declarative equivalent of the
  -- engine's suffix-expansion equi-join
  SELECT DISTINCT conv_id, turn_idx FROM (
    SELECT conv_id, turn_idx,
           regexp_replace(lower(unnest(
               regexp_extract_all(t0, '{url_lit}', 1))), '[.-]+$', '') AS h
    FROM rpre
  )
  WHERE h IN ('blocked-site.com', 'spam-ads.net')
     OR h LIKE '%.blocked-site.com' OR h LIKE '%.spam-ads.net'
), r0 AS MATERIALIZED (
  SELECT r.* FROM rpre r
  WHERE NOT EXISTS (SELECT 1 FROM bflag b
                    WHERE b.conv_id = r.conv_id AND b.turn_idx = r.turn_idx)
), {redact_block},
feat AS MATERIALIZED (
  SELECT conv_id, turn_idx, t{n_r} AS text,
         length(t{n_r}) AS n_chars,
         CASE WHEN trim(t{n_r}) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(t{n_r}), '\s+')) END AS n_words,
         len(regexp_extract_all(t{n_r}, '[^\w\s一-鿿぀-ヿ가-힯]')) AS n_punct,
         len(regexp_extract_all(t{n_r}, '[一-鿿぀-ヿ가-힯]')) AS n_cjk,
         len(regexp_extract_all(lower(t{n_r}),
             '\b(the|and|of|to|is|in|that|it|for|was)\b')) AS n_stop,
         len(regexp_extract_all(lower(t{n_r}),
             '\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b')) AS h_de,
         len(regexp_extract_all(lower(t{n_r}),
             '\b(el|la|los|las|de|que|y|en|un|una|es)\b')) AS h_es,
         len(regexp_extract_all(lower(t{n_r}),
             '\b(le|la|les|des|une|est|et|que|dans|pour)\b')) AS h_fr,
         len(regexp_extract_all(lower(t{n_r}), '[぀-ヿ]')) AS h_ja,
         len(regexp_extract_all(lower(t{n_r}), '[가-힯]')) AS h_ko,
         len(regexp_extract_all(lower(t{n_r}), '[一-鿿]')) AS h_zh,
         md5(lower(regexp_replace(trim(t{n_r}), '\s+', ' ', 'g'))) AS fingerprint
  FROM r{n_r}
), scored AS MATERIALIZED (
  SELECT conv_id, turn_idx, text, fingerprint,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(n_words AS BIGINT) END AS ws_tokens,
         (CASE WHEN CASE WHEN n_chars > 0
                         AND CAST(n_cjk AS DOUBLE) / n_chars >= 0.3
                    THEN n_chars >= 10
                    ELSE n_words > 0
                         AND CAST(n_chars AS DOUBLE) / n_words >= 3.0
                         AND CAST(n_chars AS DOUBLE) / n_words <= 12.0 END
               THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
          + CASE WHEN n_chars = 0
                 OR CAST(n_punct AS DOUBLE) / n_chars <= 0.2
                 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
          + CASE WHEN (n_chars > 0
                       AND CAST(n_cjk AS DOUBLE) / n_chars >= 0.3)
                 OR (n_words > 0
                     AND CAST(n_stop AS DOUBLE) / n_words >= 0.05)
                 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         AS quality_score,
         CASE WHEN greatest(h_de, n_stop, h_es, h_fr, h_ja, h_ko, h_zh) = 0
                   THEN 'unknown'
              WHEN h_de = greatest(h_de, n_stop, h_es, h_fr, h_ja, h_ko, h_zh)
                   THEN 'de'
              WHEN n_stop = greatest(h_de, n_stop, h_es, h_fr, h_ja, h_ko, h_zh)
                   THEN 'en'
              WHEN h_es = greatest(h_de, n_stop, h_es, h_fr, h_ja, h_ko, h_zh)
                   THEN 'es'
              WHEN h_fr = greatest(h_de, n_stop, h_es, h_fr, h_ja, h_ko, h_zh)
                   THEN 'fr'
              WHEN h_ja = greatest(h_de, n_stop, h_es, h_fr, h_ja, h_ko, h_zh)
                   THEN 'ja'
              WHEN h_ko = greatest(h_de, n_stop, h_es, h_fr, h_ja, h_ko, h_zh)
                   THEN 'ko'
              ELSE 'zh' END AS pred_lang
  FROM feat
), gated AS MATERIALIZED (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint
                               ORDER BY conv_id, turn_idx) AS fp_rank
  FROM scored WHERE quality_score >= 0.3
), keyed AS MATERIALIZED (
  -- full 32-hex md5 key (not a 60-bit prefix): survivor selection is
  -- the lexicographic min, identical in both engines
  SELECT conv_id, turn_idx, text, pred_lang, quality_score, ws_tokens,
         md5(conv_id || ':' || CAST(turn_idx AS VARCHAR)) AS nid
  FROM gated WHERE fp_rank = 1
), mtoks AS MATERIALIZED (
  SELECT nid, {_PY_TOKENS_SQL} AS ts
  FROM keyed
), mshng AS MATERIALIZED (
  SELECT nid,
         CASE WHEN len(ts) >= 3
              THEN list_distinct(list_transform(range(0, len(ts)-2),
                   i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
              ELSE [array_to_string(ts, ' ')] END AS ss
  FROM mtoks
), mhv AS MATERIALIZED (
  SELECT nid,
         list_transform(ss, s ->
             (('0x'||substr(md5(s),1,16))::UBIGINT
              & 4294967295)::HUGEINT) AS hs
  FROM mshng
), mprm AS MATERIALIZED (
  -- hash params as a 128-row TABLE: the k-major lambda form rebuilds
  -- the 128-literal list per evaluation (O(n_sh * 128^2) — measured
  -- ~240 ms/doc); the join+group-by min is the vectorized identity
  SELECT unnest({a_lit}) AS pa, unnest({b_lit}) AS pb,
         generate_subscripts({a_lit}, 1) - 1 AS k
), mh AS MATERIALIZED (
  SELECT nid, unnest(hs) AS h FROM mhv
), msig AS MATERIALIZED (
  SELECT nid, list(mn ORDER BY k) AS sg
  FROM (
    SELECT nid, k,
           CAST(min((pa::HUGEINT * h + pb) % {_MINHASH_P}) AS BIGINT) AS mn
    FROM mh, mprm GROUP BY nid, k
  ) GROUP BY nid
), mbnd AS MATERIALIZED (
  SELECT nid, sg, b,
         ('0x'||substr(md5(array_to_string(
              list_transform(sg[b*4+1 : b*4+4], v -> v::VARCHAR),
              ',')),1,15))::BIGINT AS bh
  FROM msig, range(0, 32) t(b)
), mpairs AS MATERIALIZED (
  SELECT DISTINCT x.nid AS id_a, y.nid AS id_b
  FROM mbnd x
  JOIN mbnd y ON x.b = y.b AND x.bh = y.bh AND x.nid < y.nid
), mdup AS MATERIALIZED (
  SELECT id_a, id_b
  FROM mpairs
  JOIN msig sa ON sa.nid = id_a
  JOIN msig sb ON sb.nid = id_b
  WHERE CAST(list_sum(list_transform(range(1, 129),
        i -> CASE WHEN sa.sg[i] = sb.sg[i] THEN 1 ELSE 0 END)) AS DOUBLE)
        / 128.0 >= 0.85
), edges AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM mdup
  UNION
  SELECT id_b, id_a FROM mdup
), reach AS (
  SELECT s AS id, s AS comp FROM edges
  UNION
  SELECT e.s, r.comp FROM edges e JOIN reach r ON e.d = r.id
), comp AS MATERIALIZED (
  SELECT id, min(comp) AS comp FROM reach GROUP BY id
), survivors AS MATERIALIZED (
  SELECT k.* FROM keyed k
  WHERE NOT EXISTS (SELECT 1 FROM comp c
                    WHERE c.id = k.nid AND c.comp <> c.id)
), evtoks AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS ts
  FROM documents
  WHERE md5(CAST(doc_id AS VARCHAR)) < '{ev_cut}'
), evsh AS MATERIALIZED (
  SELECT DISTINCT unnest(
         CASE WHEN len(ts) >= 6
              THEN list_distinct(list_transform(range(0, len(ts)-5),
                   i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' '
                        || ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6]))
              ELSE [array_to_string(ts, ' ')] END) AS shingle
  FROM evtoks
), trsh AS MATERIALIZED (
  SELECT nid, unnest(
         CASE WHEN len(ts) >= 6
              THEN list_distinct(list_transform(range(0, len(ts)-5),
                   i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' '
                        || ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6]))
              ELSE [array_to_string(ts, ' ')] END) AS shingle
  FROM (
    SELECT s.nid,
           CASE WHEN trim(lower(s.text)) = '' THEN []::VARCHAR[]
                ELSE string_split_regex(trim(lower(s.text)), '\s+') END AS ts
    FROM survivors s
  )
), flagged AS MATERIALIZED (
  SELECT DISTINCT t.nid FROM trsh t JOIN evsh e ON t.shingle = e.shingle
)
SELECT conv_id, turn_idx, pred_lang, quality_score, ws_tokens
FROM survivors s
WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.nid = s.nid)
"""


def _nb_oracle() -> str:
    """DuckDB twin of ``q_nb_quality``: identical seed decoration (the
    phrase constants are interpolated from the SAME Python literals the
    query uses, so the two cannot drift), the DSIR-proven gram/bucket
    SQL (trim/lower/``\\s+`` split, md5-prefix60 mod 1024), add-one NB
    weights over the COMPLETE generate_series bucket axis, micro-unit
    BIGINT quantization, and the same >0 integer label decision."""
    p, n = _NB_POS_PHRASE, _NB_NEG_PHRASE
    gram = lambda src: f"""(
              SELECT doc_id,
                     ('0x' || substr(md5(g), 1, 15))::BIGINT % 1024 AS b
              FROM (
                SELECT doc_id,
                       unnest(toks || list_transform(
                           generate_series(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i + 1])) AS g
                FROM (
                  SELECT doc_id,
                         list_filter(
                             regexp_split_to_array(
                                 trim(lower(coalesce(text, ''))), '\\s+'),
                             t -> t <> '') AS toks
                  FROM {src})))"""
    return f"""
        WITH base AS (
          SELECT doc_id, coalesce(text, '') AS t FROM documents
        ), pos AS (
          SELECT doc_id, t || '{p}' AS text FROM base WHERE doc_id % 7 = 0
        ), neg AS (
          SELECT doc_id, t || '{n}' AS text FROM base WHERE doc_id % 7 = 3
        ), sc AS (
          SELECT doc_id,
                 t || CASE WHEN doc_id % 4 = 0 THEN '{p}'
                           WHEN doc_id % 4 = 2 THEN '{n}'
                           ELSE '' END AS text
          FROM base WHERE doc_id % 7 NOT IN (0, 3)
        ), pc AS (
          SELECT b, CAST(count(*) AS BIGINT) AS pcnt
          FROM {gram("pos")} GROUP BY b
        ), nc AS (
          SELECT b, CAST(count(*) AS BIGINT) AS ncnt
          FROM {gram("neg")} GROUP BY b
        ), tot AS (
          SELECT (SELECT coalesce(sum(pcnt), 0) FROM pc) AS P,
                 (SELECT coalesce(sum(ncnt), 0) FROM nc) AS N,
                 (SELECT count(*) FROM pos) AS np,
                 (SELECT count(*) FROM neg) AS nn
        ), w AS (
          SELECT bb.b,
                 CAST(round((ln((coalesce(pc.pcnt, 0) + 1)::DOUBLE
                          / (tot.P::DOUBLE + 1024.0))
                     - ln((coalesce(nc.ncnt, 0) + 1)::DOUBLE
                          / (tot.N::DOUBLE + 1024.0)))
                     * 1000000.0) AS BIGINT) AS s
          FROM (SELECT unnest(generate_series(0, 1023)) AS b) bb
          LEFT JOIN pc ON bb.b = pc.b
          LEFT JOIN nc ON bb.b = nc.b, tot
        ), prior AS (
          SELECT CAST(round((ln((np + 1)::DOUBLE) - ln((nn + 1)::DOUBLE))
                      * 1000000.0) AS BIGINT) AS pr
          FROM tot
        ), summed AS (
          SELECT r.doc_id,
                 CAST(count(*) AS BIGINT) AS n_grams,
                 sum(w.s) AS ssum
          FROM {gram("sc")} r JOIN w ON r.b = w.b
          GROUP BY r.doc_id
        )
        SELECT sc.doc_id,
               coalesce(summed.n_grams, 0)::BIGINT AS n_grams,
               ((coalesce(summed.ssum, 0) + prior.pr)::DOUBLE) / 1000000.0
                   AS nb_score,
               CASE WHEN coalesce(summed.ssum, 0) + prior.pr > 0
                    THEN 'pos' ELSE 'neg' END AS nb_label
        FROM sc LEFT JOIN summed ON sc.doc_id = summed.doc_id, prior
    """


def _norm_dedup_oracle() -> str:
    """DuckDB twin of q_norm_dedup: decoration + the CCNet
    normalization ladder, with the accent translate map and punctuation
    class interpolated from the operator module's own constants so the
    two sides cannot drift. DuckDB regexp_replace needs the explicit
    'g' flag (Spark's is global by default)."""
    from docling_translate_spark.operators.text_analysis import (
        ACCENT_DST,
        ACCENT_SRC,
        NORM_PUNCT_RE,
    )

    punct = NORM_PUNCT_RE.replace("'", "''")
    return f"""
        WITH deco AS (
            SELECT doc_id, text || ' 12, 34!' AS text FROM documents
            UNION ALL
            SELECT doc_id + 10000000 AS doc_id,
                   ' «' || translate(text, 'ao', 'áó') || '» 98?? 76 '
                       AS text
            FROM documents
        ),
        nf AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(regexp_replace(
                       translate(lower(text),
                                 '{ACCENT_SRC}', '{ACCENT_DST}'),
                       '[0-9]', '0', 'g'),
                       '{punct}', '', 'g'),
                       '\\s+', ' ', 'g'))) AS norm_fp
            FROM deco
        ),
        groups AS (
            SELECT norm_fp, min(doc_id) AS rep_id, count(*) AS n_dups
            FROM nf GROUP BY norm_fp
        )
        SELECT nf.doc_id, nf.norm_fp, g.rep_id, g.n_dups,
               CAST(nf.doc_id = g.rep_id AS INT) AS is_survivor
        FROM nf JOIN groups g USING (norm_fp)
    """


def _domain_profile_oracle() -> str:
    """DuckDB twin of q_domain_profile: decoration, the full
    canonicalization chain (url_frontier oracle verbatim), the
    registered-domain heuristic (multi-label public-suffix set
    interpolated from the operator module constant), and the rollup."""
    from docling_translate_spark.operators.scrub import MULTI_LABEL_TLDS

    tlds = ",".join("'" + t + "'" for t in MULTI_LABEL_TLDS)
    return rf"""
        WITH deco AS (
            SELECT doc_id, text,
                CASE WHEN doc_id % 13 = 0 THEN 'not a url' ELSE
                    'https://'
                    || (CASE doc_id % 7
                        WHEN 0 THEN 'News.Site' || CAST(doc_id % 3 AS VARCHAR) || '.CO.UK'
                        WHEN 1 THEN 'blog.site' || CAST(doc_id % 3 AS VARCHAR) || '.example.com'
                        WHEN 2 THEN 'site' || CAST(doc_id % 3 AS VARCHAR) || '.com'
                        WHEN 3 THEN 'Sub.A.site' || CAST(doc_id % 3 AS VARCHAR) || '.com.au'
                        WHEN 4 THEN 'intranet'
                        WHEN 5 THEN 'www.site' || CAST(doc_id % 3 AS VARCHAR) || '.co.uk'
                        ELSE 'site' || CAST(doc_id % 3 AS VARCHAR) || '.org' END)
                    || '/p/' || CAST(doc_id % 5 AS VARCHAR)
                    || (CASE WHEN doc_id % 2 = 0
                             THEN '?utm_campaign=x&z=1' ELSE '' END)
                    || (CASE WHEN doc_id % 4 = 0 THEN '#top' ELSE '' END)
                END AS url
            FROM documents
        ),
        p1 AS (
            SELECT doc_id, text,
                lower(regexp_extract(trim(url),
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_extract(
                    regexp_replace(trim(url),
                        '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                    '^([^#]*)', 1) AS nofrag
            FROM deco
        ),
        p2 AS (
            SELECT doc_id, text, scheme, nofrag,
                regexp_replace(
                    regexp_extract(nofrag, '^([^/?]*)', 1),
                    '^[^@]*@', '') AS hostport
            FROM p1
        ),
        p3 AS (
            SELECT doc_id, text, scheme, nofrag,
                regexp_replace(lower(
                    regexp_extract(hostport, '^([^:]*)', 1)),
                    '\.+$', '') AS host,
                regexp_extract(hostport, ':(\d+)$', 1) AS port_s,
                regexp_extract(nofrag, '^[^/?]*(/[^?]*)', 1) AS path,
                regexp_extract(nofrag, '\?(.*)$', 1) AS query
            FROM p2
        ),
        p4 AS (
            SELECT doc_id, text, scheme, host, path,
                CASE WHEN port_s = '' THEN NULL
                     ELSE CAST(port_s AS INT) END AS port,
                list_sort(list_filter(string_split(query, '&'),
                    p -> p <> ''
                         AND NOT starts_with(
                             lower(regexp_extract(p, '^([^=]*)', 1)),
                             'utm_')
                         AND lower(regexp_extract(p, '^([^=]*)', 1))
                             NOT IN ('fbclid','gclid','msclkid',
                                     'mc_cid','mc_eid','ref','ref_src')
                )) AS kept
            FROM p3
        ),
        canon AS (
            SELECT doc_id, text,
                CASE WHEN scheme IN ('http','https') AND host <> ''
                THEN scheme || '://' || host
                    || (CASE WHEN port IS NULL
                              OR (scheme = 'http' AND port = 80)
                              OR (scheme = 'https' AND port = 443)
                             THEN ''
                             ELSE ':' || CAST(port AS VARCHAR) END)
                    || (CASE WHEN path = '' THEN '/' ELSE path END)
                    || (CASE WHEN len(kept) = 0 THEN ''
                             ELSE '?' || array_to_string(kept, '&') END)
                ELSE NULL END AS canonical_url
            FROM p4
        ),
        dom AS (
            SELECT doc_id, text, canonical_url,
                regexp_extract(canonical_url,
                    '^https?://([^/:?#]+)', 1) AS host
            FROM canon WHERE canonical_url IS NOT NULL
        ),
        reg AS (
            SELECT doc_id, canonical_url,
                coalesce(length(text), 0) AS tlen,
                CASE WHEN len(string_split(host, '.')) <= 2 THEN host
                     WHEN regexp_matches(string_split(host, '.')[-1],
                                         '^[0-9]+$') THEN host
                     WHEN (string_split(host, '.')[-2] || '.'
                           || string_split(host, '.')[-1]) IN ({tlds})
                     THEN string_split(host, '.')[-3] || '.'
                          || string_split(host, '.')[-2] || '.'
                          || string_split(host, '.')[-1]
                     ELSE string_split(host, '.')[-2] || '.'
                          || string_split(host, '.')[-1] END AS domain
            FROM dom
        )
        SELECT domain,
               count(*) AS n_docs,
               count(DISTINCT canonical_url) AS n_pages,
               CAST(sum(tlen) AS BIGINT) AS total_chars
        FROM reg GROUP BY domain
    """


def _cms_oracle() -> str:
    """DuckDB twin of ``q_cms_hitters``: the md5-slice count-min
    formula replayed from the operator's OWN constants (the
    _hll/_bloom_oracle discipline). Cells are exact BIGINT sums over
    4-nibble hex slices read directly (no modulo), the estimate is the
    min over the d per-row cells, and the 1%-of-total cut uses integer
    arithmetic — bit-for-bit the distributed plan, including any
    (deterministic) collision overcounts."""
    from docling_translate_spark.operators.sketch import CMS_D

    return f"""
        WITH tr AS ({_TOKEN_ROWS_SQL}),
        cells AS (
            SELECT j.range AS row,
                   ('0x' || substr(md5(tok), 1 + 4 * j.range, 4))
                       ::UBIGINT::BIGINT AS col,
                   count(*)::BIGINT AS cnt
            FROM tr, range({CMS_D}) j
            GROUP BY 1, 2
        ),
        truth AS (SELECT tok, count(*)::BIGINT AS n_true FROM tr GROUP BY 1),
        est AS (
            SELECT t.tok, t.n_true,
                   min(coalesce(c.cnt, 0))::BIGINT AS cms_count
            FROM truth t
            CROSS JOIN range({CMS_D}) j
            LEFT JOIN cells c ON c.row = j.range
                 AND c.col = ('0x' || substr(md5(t.tok), 1 + 4 * j.range, 4))
                                 ::UBIGINT::BIGINT
            GROUP BY 1, 2
        )
        SELECT tok, cms_count, n_true
        FROM est
        WHERE cms_count * 100 >= (SELECT count(*) FROM tr)
    """


def _pagerank_oracle() -> str:
    """DuckDB twin of ``q_pagerank``: the same decorated edge build,
    then the operator's integer arithmetic UNROLLED one CTE chain per
    iteration (fixed iteration count is part of the operator contract
    precisely so the oracle can replay it). Every division is DuckDB's
    integer ``//`` mirroring Spark's ``div``; the damping product uses
    the same overflow-safe split identity; sums are BIGINT-exact, so
    the match is bit-for-bit."""
    from docling_translate_spark.operators.graph import (
        PR_DAMP_DEN as D,
        PR_DAMP_NUM as A,
        PR_SCALE,
    )

    iters = 4
    base = ((D - A) * PR_SCALE) // D

    def pick(tag: str) -> str:
        return (
            "('0x' || substr(md5('e' || CAST(doc_id AS VARCHAR) ||"
            f" '{tag}'), 1, 8))::UBIGINT::BIGINT % 23"
        )

    steps = []
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        x = "(coalesce(g.insum, 0) + d.share)"
        steps.append(f"""
        , g{k} AS (
            SELECT e.dst AS v, sum(p.r // o.c)::BIGINT AS insum
            FROM eds e
            JOIN {p} p ON e.src = p.v
            JOIN outdeg o ON o.src = e.src
            GROUP BY 1
        ), d{k} AS (
            SELECT coalesce(sum(p.r), 0) // (SELECT n FROM nv) AS share
            FROM {p} p LEFT JOIN outdeg o ON p.v = o.src
            WHERE o.src IS NULL
        ), r{k} AS (
            SELECT verts.v,
                   CAST({base} + {A} * ({x} // {D})
                        + ({A} * ({x} % {D})) // {D} AS BIGINT) AS r
            FROM verts CROSS JOIN d{k} d
            LEFT JOIN g{k} g ON g.v = verts.v
        )""")

    return f"""
        WITH raw AS (
            SELECT 'd' || CAST(doc_id AS VARCHAR) AS src,
                   'h' || CAST({pick(":0")} AS VARCHAR) AS dst
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT 'd' || CAST(doc_id AS VARCHAR),
                   'h' || CAST({pick(":1")} AS VARCHAR)
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT 'h' || CAST(doc_id % 13 AS VARCHAR),
                   'h' || CAST((doc_id + 1) % 13 AS VARCHAR)
            FROM documents WHERE doc_id % 7 = 0
        ), eds AS (SELECT DISTINCT src, dst FROM raw),
        outdeg AS (SELECT src, count(*)::BIGINT AS c FROM eds GROUP BY 1),
        verts AS (
            SELECT DISTINCT v
            FROM (SELECT src AS v FROM eds UNION SELECT dst FROM eds)
        ),
        nv AS (SELECT count(*)::BIGINT AS n FROM verts),
        r0 AS (SELECT v, CAST({PR_SCALE} AS BIGINT) AS r FROM verts)
        {"".join(steps)}
        SELECT v AS vertex, r AS rank_units FROM r{iters}
    """


def _badwords_oracle() -> str:
    """DuckDB twin of ``q_badwords_filter``: token grammar, word list,
    and phrase boundary patterns all interpolated from the operator's
    OWN constants (single source of truth — the two sides cannot
    drift)."""
    from docling_translate_spark.operators.scrub import (
        BADWORD_TOKEN_SPLIT,
        _phrase_pattern,
    )

    words = [t for t in BADWORDS_LEXICON if " " not in t]
    phrases = [t for t in BADWORDS_LEXICON if " " in t]
    wlist = ", ".join(f"'{w}'" for w in words)
    phrase_cases = " || ".join(
        "(CASE WHEN regexp_matches(lt, '{}') THEN ['{}'] "
        "ELSE []::VARCHAR[] END)".format(_phrase_pattern(p), p)
        for p in phrases
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, lower(coalesce(text, '')) AS lt,
                 list_distinct(list_filter(
                     string_split_regex(lower(coalesce(text, '')),
                                        '{BADWORD_TOKEN_SPLIT}'),
                     t -> t <> '')) AS tk
          FROM documents
        ), hits AS (
          SELECT doc_id,
                 list_sort(list_intersect(tk, [{wlist}])
                           || {phrase_cases}) AS bad
          FROM toks
        )
        SELECT doc_id,
               -- DuckDB's array_to_string([]) is NULL, Spark's
               -- array_join([]) is '' — pin the empty case
               coalesce(array_to_string(bad, ','), '') AS bad_terms,
               CAST(len(bad) AS BIGINT) AS n_bad,
               CAST(len(bad) = 0 AS BIGINT) AS kept
        FROM hits
    """


def oracle_sql() -> dict[str, str]:
    # MinHash universal-hash params, inlined as SQL literals so DuckDB
    # reproduces the signatures bit-for-bit (same seed as the query)
    from docling_translate_spark.operators.dedup import _hash_params
    from docling_translate_spark.operators.similarity import (
        IVF_GRID as _IVF_GRID,
    )
    from docling_translate_spark.sentences import ABBREVIATIONS

    _A, _B = _hash_params(64, 7)
    _a_lit = "[" + ",".join(str(int(x)) for x in _A) + "]"
    _b_lit = "[" + ",".join(str(int(x)) for x in _B) + "]"
    _abbr_lit = "[" + ",".join("'" + a + "'" for a in sorted(ABBREVIATIONS)) + "]"

    from docling_translate_spark.functions.render import DOC_FOOTER, DOC_HEADER

    _doc_header_lit = "'" + DOC_HEADER.replace("'", "''") + "'"
    _doc_footer_lit = "'" + DOC_FOOTER.replace("'", "''") + "'"

    # LSH bucket assignment as relational SQL: integer hyperplanes are
    # inlined flat (j-major) and unnested into rows; dot products are
    # integer sums (order-independent → exact vs the numpy kernel). The
    # planes must NOT appear inside per-row scalar expressions — a
    # 6144-literal nested list inside a join key sent the planner into
    # the weeds; as a 6144-row table the whole bucket build is <1 s.
    def _lsh_buckets_cte(dim: int, n_planes: int, n_tables: int) -> str:
        from docling_translate_spark.operators.similarity import lsh_planes

        p = lsh_planes(dim, n_planes, n_tables, seed=11)
        flat = "[" + ",".join(
            str(int(p[i, j])) for j in range(n_planes * n_tables)
            for i in range(dim)
        ) + "]"
        return f"""
w AS MATERIALIZED (
  SELECT unnest({flat}) AS wt,
         generate_subscripts({flat}, 1) AS k
), pl AS MATERIALIZED (
  SELECT CAST((k-1) // {dim} AS INTEGER) AS j,
         CAST((k-1) % {dim} + 1 AS INTEGER) AS i, wt
  FROM w
), eq AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(floor(unnest(embedding) * 1024 + 0.5) AS BIGINT) AS qi
  FROM embeddings
), dots AS (
  SELECT eq.vec_id, pl.j, sum(eq.qi * pl.wt) AS dot
  FROM eq JOIN pl ON eq.i = pl.i
  GROUP BY eq.vec_id, pl.j
), buckets AS (
  SELECT vec_id, CAST(j // {n_planes} AS INTEGER) AS tbl,
         CAST(sum(CASE WHEN dot > 0 THEN 1 << (j % {n_planes}) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id, j // {n_planes}
)"""

    _train_rows_cache: dict[str, list] = {}

    def _oracle_train_rows(sf: str) -> list:
        """The ONE deterministic training-sample fetch both codebook
        literals share — identical `ORDER BY md5(id::VARCHAR), id
        LIMIT n` total order to ivf_train_rows, replayed in DuckDB over
        the raw parquet. Single definition so the coarse and PQ
        codebooks can never train on different samples, memoized so
        the md5 full-table sort runs once per process per sf."""
        import duckdb as _duck

        if sf not in _train_rows_cache:
            _train_rows_cache[sf] = _duck.connect().execute(
                f"SELECT vec_id, embedding FROM '{sf}/embeddings.parquet' "
                f"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id "
                f"LIMIT {IVF_MAX_TRAIN}"
            ).fetchall()
        return _train_rows_cache[sf]

    def _ivf_centroid_values() -> str:
        """The IVF centroid literal, emitted by the SAME recipe the gate
        query runs: the deterministic hash-ordered training sample is
        replayed over the raw parquet in DuckDB (identical `ORDER BY
        md5(id::VARCHAR), id LIMIT n` total order), then the identical
        seeded float64 k-means + 2^20 grid snap
        (similarity.ivf_centroid_ints) — same rows + same seed ⇒
        bit-identical BIGINTs. The driver gates at sf0.01; local checks
        at another sf set SPARK_GRAFT_ORACLE_SF (tools/check_oracle.py
        does). Parity of the two sample paths is pytest-pinned
        (tests/test_similarity.py::test_ivf_centroid_replay_parity).

        Memoized per sf path: oracle_sql() builds the whole dict on
        every call, and without the cache each call would re-read the
        embeddings parquet and re-run the 65536-row k-means even when
        the caller only wants an unrelated query's SQL."""
        from docling_translate_spark.operators.similarity import (
            ivf_centroid_ints,
        )

        sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
        if sf in _IVF_CENTROID_CACHE:
            return _IVF_CENTROID_CACHE[sf]
        cents = ivf_centroid_ints(_oracle_train_rows(sf), n_cells=IVF_N_CELLS)
        _IVF_CENTROID_CACHE[sf] = ", ".join(
            f"({j}, [{','.join(str(v) for v in c)}]::BIGINT[])"
            for j, c in enumerate(cents)
        )
        return _IVF_CENTROID_CACHE[sf]

    def _pq_codebook_values() -> str:
        """The PQ sub-codebook literal — the _ivf_centroid_values
        discipline applied to the per-subspace trainer: identical
        hash-ordered sample replayed in DuckDB (shared with
        _ivf_centroid_values via _oracle_train_rows — one definition,
        one fetch), identical seeded L2 k-means + grid snap
        (similarity.pq_codebook_ints), memoized per sf path. Rows:
        (j, kk, cvec BIGINT[], cc = |cvec|² BIGINT)."""
        from docling_translate_spark.operators.similarity import (
            pq_codebook_ints,
        )

        sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
        if sf in _PQ_CODEBOOK_CACHE:
            return _PQ_CODEBOOK_CACHE[sf]
        cbs = pq_codebook_ints(_oracle_train_rows(sf), m=PQ_M, ks=PQ_KS)
        _PQ_CODEBOOK_CACHE[sf] = ", ".join(
            f"({j}, {kk}, [{','.join(str(v) for v in cvec)}]::BIGINT[], "
            f"{sum(v * v for v in cvec)}::BIGINT)"
            for j, cb in enumerate(cbs)
            for kk, cvec in enumerate(cb)
        )
        return _PQ_CODEBOOK_CACHE[sf]

    # full value oracle for banded MinHash LSH (64 hashes, 16 bands x 4
    # rows, est >= 0.5): signatures, band keys, candidate join and the
    # estimate filter all reproduced in SQL — the a/b hash params are
    # inlined as literals above. Shared by `dedup_minhash_lsh` (the pair
    # list) and `dedup_components` (recursive closure over those pairs).
    # `sig` is MATERIALIZED: DuckDB 1.0 inlines a plain CTE at each of
    # its three references, recomputing every 64-hash signature per use.
    _minhash_pairs_sql = r"""
            WITH toks AS (
              SELECT doc_id, __PY_TOKENS__ AS ts
              FROM documents
            ), shng AS (
              SELECT doc_id,
                     CASE WHEN len(ts) >= 3
                          THEN list_distinct(list_transform(range(0, len(ts)-2),
                               i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
                          ELSE [array_to_string(ts, ' ')] END AS ss
              FROM toks
            ), hv AS (
              SELECT doc_id,
                     list_transform(ss, s ->
                         (('0x'||substr(md5(s),1,16))::UBIGINT
                          & 4294967295)::HUGEINT) AS hs
              FROM shng
            ), sig AS MATERIALIZED (
              SELECT doc_id,
                     list_transform(range(0, 64), k ->
                         CAST(list_min(list_transform(hs,
                              h -> (__MINHASH_A__[k+1]::HUGEINT * h
                                    + __MINHASH_B__[k+1]) % 4294967311))
                              AS BIGINT)) AS sg
              FROM hv
            ), bnd AS (
              SELECT doc_id, sg, b,
                     ('0x'||substr(md5(array_to_string(
                          list_transform(sg[b*4+1 : b*4+4], v -> v::VARCHAR),
                          ',')),1,15))::BIGINT AS bh
              FROM sig, range(0, 16) t(b)
            ), cand AS (
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM bnd x
              JOIN bnd y ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id
            )
            SELECT id_a, id_b
            FROM cand
            JOIN sig sa ON sa.doc_id = id_a
            JOIN sig sb ON sb.doc_id = id_b
            WHERE list_sum(list_transform(range(1, 65),
                  i -> CASE WHEN sa.sg[i] = sb.sg[i] THEN 1 ELSE 0 END)) >= 32
    """.replace("__MINHASH_A__", _a_lit).replace("__MINHASH_B__", _b_lit).replace(
        "__PY_TOKENS__", _PY_TOKENS_SQL
    )

    # sanitized-body twin (see _sanitized_body): extraction is
    # byte-identity on these turns, so the flagship query + its rollup
    # carry full value oracles
    _san_sql = (
        "trim('w ' || trim(regexp_replace(regexp_replace("
        "lower(coalesce(text, '')), '[^a-z0-9 ]', ' ', 'g'), "
        "' +', ' ', 'g')))"
    )

    sql = {
        "extract_turns": f"""
            SELECT source AS conv_id,
                   CAST(doc_id AS INTEGER) AS turn_idx,
                   {_san_sql} AS extracted_text,
                   1 AS n_spans,
                   CAST(0.0 AS DOUBLE) AS boilerplate_ratio
            FROM documents
        """,
        "toggles_battery": f"""
            WITH ex AS (
              SELECT source AS conv_id,
                     CAST(doc_id AS INTEGER) AS turn_idx,
                     {_san_sql} AS san
              FROM documents
            )
            SELECT 'marker' AS branch, conv_id, turn_idx,
                   '<<' || san || '>>' AS out FROM ex
            UNION ALL
            SELECT 'trunc', conv_id, turn_idx, substring(san, 1, 512)
            FROM ex
            UNION ALL
            SELECT 'sent', conv_id, turn_idx, san FROM ex
        """,
        "statfmt_battery": rf"""
            WITH ex AS (
              SELECT {_san_sql} AS extracted_text, 1 AS n_spans
              FROM documents
            ),
            stats AS (
              SELECT 'stat' AS branch, 'turns_processed' AS key,
                     CAST(count(*) AS BIGINT) AS n, 'turns' AS s
              FROM ex
              UNION ALL
              SELECT 'stat', 'spans_emitted',
                     CAST(sum(n_spans) AS BIGINT), 'spans'
              FROM ex
              UNION ALL
              SELECT 'stat', 'chars_extracted',
                     CAST(sum(length(extracted_text)) AS BIGINT), 'chars'
              FROM ex
            ),
            deco AS (
              SELECT doc_id,
                     trim(CASE doc_id % 7
                       WHEN 0 THEN '$' || text
                       WHEN 1 THEN '\[' || text
                       WHEN 2 THEN '\(' || text
                       WHEN 3 THEN 'a & b ' || text
                       WHEN 4 THEN '  $pad ' || text
                       ELSE text END) AS tt
              FROM documents
            )
            SELECT branch, key, n, s FROM stats
            UNION ALL
            SELECT 'p5' AS branch,
                   CAST(doc_id AS VARCHAR) AS key,
                   CAST(NULL AS BIGINT) AS n,
                   CASE
                     WHEN starts_with(tt, '$') OR starts_with(tt, '\[')
                          OR starts_with(tt, '\(') THEN tt
                     WHEN contains(tt, '&')
                       THEN '\[\begin{{aligned}}' || tt
                            || '\end{{aligned}}\]'
                     ELSE '\[' || tt || '\]'
                   END AS s
            FROM deco
        """,
        "a6_extraction_rollup": """
            WITH ext AS (
              SELECT source AS conv_id, 1 AS n_spans,
                     CAST(0.0 AS DOUBLE) AS br
              FROM documents
            )
            SELECT conv_id,
                   count(*) AS n_turns,
                   CAST(sum(n_spans) AS BIGINT) AS n_spans,
                   avg(br) AS avg_boiler
            FROM ext GROUP BY conv_id
        """,
        "p1_nonempty_filter": """
            SELECT lang, count(*) AS n_docs
            FROM documents
            WHERE text IS NOT NULL AND trim(text) <> ''
            GROUP BY lang
        """,
        "a1_distinct_dedup": """
            SELECT count(*) AS total_texts,
                   count(DISTINCT text) AS unique_texts
            FROM documents
        """,
        # CCNet-style normalized exact dedup (SURVEY §2.25): decoration
        # + every normalization step replayed verbatim from
        # operators/text_analysis.py::normalize_text_col (the accent
        # translate map and punct class are interpolated from the SAME
        # module constants at query-build time, so query and oracle
        # cannot drift)
        "norm_dedup": _norm_dedup_oracle(),
        "a3_char_volume": """
            SELECT source,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   count(*) AS n_docs
            FROM documents
            GROUP BY source
        """,
        # incremental snapshot dedup: the three stages (within-batch
        # arg-min, exact anti vs snapshot, cross-corpus Jaccard with a
        # COMBINED-frequency stop-shingle cap) as NOT-EXISTS CTEs —
        # NULL-safe like Spark's anti-joins
        "dedup_incremental": r"""
            WITH seen AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
            ), fresh AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
            ), batch AS (
                SELECT doc_id, text FROM fresh
                UNION ALL
                SELECT doc_id + 10000000, text FROM seen WHERE doc_id % 2 = 0
                UNION ALL
                SELECT doc_id + 20000000, text FROM fresh WHERE doc_id % 5 = 1
                UNION ALL
                SELECT doc_id + 30000000,
                       text || ' xq' || CAST(doc_id AS VARCHAR)
                FROM seen WHERE doc_id % 7 = 0
            ), b1 AS (
                SELECT b.doc_id, b.text, md5(b.text) AS fp
                FROM batch b
                JOIN (
                  SELECT md5(text) AS fp, min(doc_id) AS doc_id
                  FROM batch GROUP BY 1
                ) w ON md5(b.text) = w.fp AND b.doc_id = w.doc_id
            ), b2 AS (
                SELECT * FROM b1 b
                WHERE NOT EXISTS (
                    SELECT 1 FROM seen s WHERE md5(s.text) = b.fp)
            ), btoks AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS tk
                FROM b2 WHERE text IS NOT NULL
            ), bsh AS (
                SELECT doc_id,
                       unnest(CASE WHEN len(tk) >= 4
                           THEN list_distinct(list_transform(
                               generate_series(1, len(tk) - 3),
                               i -> array_to_string(tk[i:i+3], ' ')))
                           ELSE [array_to_string(tk, ' ')] END) AS shingle
                FROM btoks
            ), stoks AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS tk
                FROM seen WHERE text IS NOT NULL
            ), ssh AS (
                SELECT doc_id,
                       unnest(CASE WHEN len(tk) >= 4
                           THEN list_distinct(list_transform(
                               generate_series(1, len(tk) - 3),
                               i -> array_to_string(tk[i:i+3], ' ')))
                           ELSE [array_to_string(tk, ' ')] END) AS shingle
                FROM stoks
            ), freq AS (
                SELECT shingle, count(*) AS df FROM (
                    SELECT shingle FROM bsh
                    UNION ALL SELECT shingle FROM ssh
                ) GROUP BY shingle
            ), rb AS (
                SELECT b.doc_id, b.shingle FROM bsh b
                JOIN freq f USING (shingle) WHERE f.df <= 20
            ), rs AS (
                SELECT s.doc_id, s.shingle FROM ssh s
                JOIN freq f USING (shingle) WHERE f.df <= 20
            ), bsz AS (
                SELECT doc_id, count(*) AS sz FROM rb GROUP BY doc_id
            ), ssz AS (
                SELECT doc_id, count(*) AS sz FROM rs GROUP BY doc_id
            ), flagged AS (
                SELECT DISTINCT p.bid FROM (
                    SELECT rb.doc_id AS bid, rs.doc_id AS sid,
                           count(*) AS nc
                    FROM rb JOIN rs USING (shingle)
                    GROUP BY 1, 2
                ) p
                JOIN bsz ON bsz.doc_id = p.bid
                JOIN ssz ON ssz.doc_id = p.sid
                WHERE p.nc / (bsz.sz + ssz.sz - p.nc) >= 0.3
            )
            SELECT doc_id, fp FROM b2 b
            WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.bid = b.doc_id)
        """,
        "p3_boilerplate_strip": r"""
            WITH d AS (
                SELECT doc_id,
                       'Page ' || CAST(doc_id % 40 + 1 AS VARCHAR)
                       || ' of 40' || chr(10) || text || chr(10)
                       || '---' || chr(10) || '42' AS decorated
                FROM documents
            )
            SELECT doc_id,
                   array_to_string(
                       list_filter(
                           string_split(decorated, chr(10)),
                           ln -> NOT regexp_matches(ln,
                               '^\s*([Pp]age\s+\d+(\s+of\s+\d+)?|\d+|[-=_*]{3,})\s*$')
                       ), chr(10)) AS clean_text,
                   len(string_split(decorated, chr(10)))
                   - len(list_filter(
                           string_split(decorated, chr(10)),
                           ln -> NOT regexp_matches(ln,
                               '^\s*([Pp]age\s+\d+(\s+of\s+\d+)?|\d+|[-=_*]{3,})\s*$')
                       )) AS n_dropped
            FROM d
        """,
        "p4_formula_detect": r"""
            SELECT doc_id,
                   CAST(regexp_matches(
                       CASE WHEN doc_id % 7 = 0
                            THEN text || ' x^{2} &= \frac{a}{b}'
                            ELSE text END,
                       '\\[a-zA-Z]+|\^\{|_\{|&=') AS INT) AS is_formula
            FROM documents
        """,
        "w1_rownum_order": """
            SELECT event_id, user_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS turn_rank
            FROM events
        """,
        # ExactSubstr-shape duplicate runs (SURVEY §2.23): the operator's
        # positioned-shingle → stop-cap → equal-offset island definition
        # replayed verbatim (k=4, min_run=3, max_occurrences=200)
        "dup_spans": r"""
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS tk
                FROM documents WHERE text IS NOT NULL
            ),
            pos AS (
                SELECT doc_id, i - 1 AS pos,
                       array_to_string(tk[i:i+3], ' ') AS shingle
                FROM toks, unnest(generate_series(1, len(tk) - 3)) AS g(i)
                WHERE len(tk) >= 4
            ),
            ok AS (
                SELECT shingle FROM pos
                GROUP BY shingle HAVING count(*) <= 200
            ),
            rare AS (
                SELECT p.doc_id, p.pos, p.shingle
                FROM pos p JOIN ok USING (shingle)
            ),
            m AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       a.pos AS pa, b.pos AS pb, a.pos - b.pos AS off
                FROM rare a JOIN rare b USING (shingle)
                WHERE a.doc_id < b.doc_id
            ),
            runs AS (
                SELECT id_a, id_b, off, pa, pb,
                       pa - row_number() OVER (PARTITION BY id_a, id_b, off
                                               ORDER BY pa) AS grp
                FROM m
            )
            SELECT id_a, id_b, min(pa) AS start_a, min(pb) AS start_b,
                   count(*) + 3 AS match_tokens
            FROM runs GROUP BY id_a, id_b, off, grp
            HAVING count(*) >= 3
        """,
        # URL canonicalization + frontier (SURVEY §2.24): decoration and
        # every canonicalization rule replayed verbatim from
        # operators/scrub.py::canonical_url_col
        "url_frontier": r"""
            WITH deco AS (
                SELECT doc_id,
                    CASE WHEN doc_id % 17 = 0 THEN 'not a url' ELSE
                        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Site'
                              ELSE 'http://site' END)
                        || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM'
                        || (CASE WHEN doc_id % 2 = 0 THEN ':443'
                                 WHEN doc_id % 3 = 0 THEN ':8080'
                                 ELSE '' END)
                        || '/page/' || CAST(doc_id % 11 AS VARCHAR)
                        || (CASE WHEN doc_id % 3 = 0
                                 THEN '?utm_source=feed&b=2&a=1&fbclid=x'
                                 WHEN doc_id % 3 = 1 THEN '?a=1&b=2'
                                 ELSE '' END)
                        || (CASE WHEN doc_id % 4 = 0 THEN '#sec' ELSE '' END)
                    END AS url
                FROM documents
            ),
            p1 AS (
                SELECT doc_id,
                    lower(regexp_extract(trim(url),
                        '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                    regexp_extract(
                        regexp_replace(trim(url),
                            '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                        '^([^#]*)', 1) AS nofrag
                FROM deco
            ),
            p2 AS (
                SELECT doc_id, scheme, nofrag,
                    regexp_replace(
                        regexp_extract(nofrag, '^([^/?]*)', 1),
                        '^[^@]*@', '') AS hostport
                FROM p1
            ),
            p3 AS (
                SELECT doc_id, scheme, nofrag,
                    regexp_replace(lower(
                        regexp_extract(hostport, '^([^:]*)', 1)),
                        '\.+$', '') AS host,
                    regexp_extract(hostport, ':(\d+)$', 1) AS port_s,
                    regexp_extract(nofrag, '^[^/?]*(/[^?]*)', 1) AS path,
                    regexp_extract(nofrag, '\?(.*)$', 1) AS query
                FROM p2
            ),
            p4 AS (
                SELECT doc_id, scheme, host, path,
                    CASE WHEN port_s = '' THEN NULL
                         ELSE CAST(port_s AS INT) END AS port,
                    list_sort(list_filter(string_split(query, '&'),
                        p -> p <> ''
                             AND NOT starts_with(
                                 lower(regexp_extract(p, '^([^=]*)', 1)),
                                 'utm_')
                             AND lower(regexp_extract(p, '^([^=]*)', 1))
                                 NOT IN ('fbclid','gclid','msclkid',
                                         'mc_cid','mc_eid','ref','ref_src')
                    )) AS kept
                FROM p3
            ),
            canon AS (
                SELECT doc_id,
                    CASE WHEN scheme IN ('http','https') AND host <> ''
                    THEN scheme || '://' || host
                        || (CASE WHEN port IS NULL
                                  OR (scheme = 'http' AND port = 80)
                                  OR (scheme = 'https' AND port = 443)
                                 THEN ''
                                 ELSE ':' || CAST(port AS VARCHAR) END)
                        || (CASE WHEN path = '' THEN '/' ELSE path END)
                        || (CASE WHEN len(kept) = 0 THEN ''
                                 ELSE '?' || array_to_string(kept, '&') END)
                    ELSE NULL END AS canonical_url
                FROM p4
            ),
            frontier AS (
                SELECT canonical_url, min(doc_id) AS first_id,
                       count(*) AS n_seen
                FROM canon WHERE canonical_url IS NOT NULL
                GROUP BY canonical_url
            )
            SELECT c.doc_id, c.canonical_url, f.first_id, f.n_seen
            FROM canon c JOIN frontier f USING (canonical_url)
        """,
        "w2_change_marker": """
            WITH lagged AS (
                SELECT user_id, event_type,
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS prev_type
                FROM events
            )
            SELECT user_id, count(*) AS n_changes
            FROM lagged
            WHERE prev_type IS NULL OR event_type <> prev_type
            GROUP BY user_id
        """,
        # as-of join: DuckDB's native ASOF LEFT JOIN over the identical
        # pre-aggregated build side (max payload struct per (user, ts)
        # -> deterministic same-ts winner in both engines)
        "asof_join": """
            WITH p AS (
                SELECT event_id, user_id, epoch_us(ts) AS t
                FROM events WHERE event_type = 'purchase'
            ), b AS (
                SELECT user_id, t,
                       max(struct_pack(event_id := event_id,
                                       cents := cents)) AS pay
                FROM (
                    SELECT user_id, epoch_us(ts) AS t, event_id,
                           CAST(floor(value * 100) AS BIGINT) AS cents
                    FROM events WHERE event_type = 'click'
                ) GROUP BY 1, 2
            )
            SELECT p.event_id, p.user_id, p.t,
                   b.t AS asof_ts,
                   (b.pay).event_id AS asof_event_id,
                   (b.pay).cents AS asof_cents
            FROM p ASOF LEFT JOIN b
              ON p.user_id = b.user_id AND p.t >= b.t
        """,
        "hll_distinct": _hll_oracle(),
        # per-group centroid dots: the proven LSH quantization grid,
        # integer milli-means, and exact BIGINT pairwise dots replayed
        "centroid_dots": """
            WITH q AS (
              SELECT 'g' || CAST(vec_id % 8 AS VARCHAR) AS g,
                     generate_subscripts(embedding, 1) AS d,
                     CAST(floor(unnest(embedding) * 1024 + 0.5) AS BIGINT)
                         AS qv
              FROM embeddings
            ), s AS (
              SELECT g, d, CAST(sum(qv) AS BIGINT) AS sm,
                     count(*)::BIGINT AS n
              FROM q GROUP BY 1, 2
            ), m AS (
              SELECT g, d, CAST(sm * 1000 // n AS BIGINT) AS mm, n FROM s
            ), c AS (
              SELECT g, CAST(max(n) AS BIGINT) AS cnt FROM m GROUP BY g
            ), sd AS (
              SELECT g, CAST(sum(mm * mm) AS BIGINT) AS dself
              FROM m GROUP BY g
            ), dots AS (
              SELECT x.g AS source_a, y.g AS source_b,
                     CAST(sum(x.mm * y.mm) AS BIGINT) AS dot_ab
              FROM m x JOIN m y ON x.d = y.d AND x.g < y.g
              GROUP BY 1, 2
            )
            SELECT source_a, source_b, ca.cnt AS n_a, cb.cnt AS n_b,
                   dot_ab, da.dself AS dot_aa, db.dself AS dot_bb
            FROM dots
            JOIN c ca ON ca.g = source_a
            JOIN c cb ON cb.g = source_b
            JOIN sd da ON da.g = source_a
            JOIN sd db ON db.g = source_b
        """,
        # conversation shape profile: the decorated transcript build
        # (md5 role pick, off-axis/NULL decorations, NULL ts) and every
        # aggregate replayed relationally; duration recomputed from the
        # same integers that fed timestamp_seconds (cast(ts AS BIGINT)
        # inverts it exactly), so no TIMESTAMP reaches the gate hash
        "conv_shape": """
            WITH t AS (
              SELECT source AS conv_id,
                     -- NULL-turn_idx rows (every 41st) are excluded by
                     -- the operator up front; mirror the decoration
                     CAST(doc_id AS INTEGER) AS turn_idx,
                     CASE WHEN doc_id % 29 = 0 THEN ''
                          WHEN doc_id % 23 = 0 THEN 'observer'
                          ELSE (['system','user','assistant','tool'])[
                              CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                    1, 15))::BIGINT % 4 AS INTEGER) + 1]
                     END AS role,
                     coalesce(length(text), 0) AS len,
                     CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS tool_flag,
                     CASE WHEN doc_id % 31 = 0 THEN NULL
                          ELSE 1700000000 + doc_id * 37 END AS sec
              FROM documents
              WHERE doc_id % 41 <> 0
            ), m AS (
              SELECT *, lag(role) OVER (PARTITION BY conv_id
                                        ORDER BY turn_idx) AS prev
              FROM t
            )
            SELECT conv_id,
                   count(*) AS n_turns,
                   CAST(sum(CASE WHEN role = 'system' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_role_system,
                   CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_role_user,
                   CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_role_assistant,
                   CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_role_tool,
                   CAST(sum(CASE WHEN role NOT IN
                        ('system','user','assistant','tool')
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_role_other,
                   CAST(sum(tool_flag) AS BIGINT) AS n_tool_calls,
                   CAST(coalesce(sum(CASE WHEN role = prev THEN 1 ELSE 0 END),
                        0) AS BIGINT) AS n_role_repeats,
                   arg_min(role, turn_idx) AS first_role,
                   arg_max(role, turn_idx) AS last_role,
                   CAST(sum(len) AS BIGINT) AS total_chars,
                   CAST(max(len) AS BIGINT) AS max_turn_chars,
                   CAST(coalesce(max(sec) - min(sec), 0) AS BIGINT)
                       AS duration_sec
            FROM m GROUP BY conv_id
        """,
        "j2_broadcast_join": """
            SELECT c_mktsegment,
                   count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "j3_left_join_fallback": """
            WITH map_side AS (
                SELECT DISTINCT text, '<<' || text || '>>' AS mapped
                FROM documents WHERE lang = 'en'
            )
            SELECT d.doc_id, coalesce(m.mapped, d.text) AS out_text
            FROM documents d LEFT JOIN map_side m ON d.text = m.text
        """,
        "o1_longest_first": """
            SELECT doc_id, length(text) AS text_len
            FROM documents
            ORDER BY length(text) DESC, doc_id
            LIMIT 10
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash,
                   min(doc_id) AS rep_id,
                   count(*) AS n_dups
            FROM documents
            GROUP BY md5(text)
        """,
        # full value oracle for the 64-bit SimHash: md5-prefix token hash
        # + per-bit majority vote, reproduced with DuckDB list lambdas
        "dedup_simhash": f"""
            WITH toks AS (
              SELECT doc_id, {_PY_TOKENS_SQL} AS ts
              FROM documents
            ), hv AS (
              SELECT doc_id,
                     list_transform(ts,
                         t -> ('0x'||substr(md5(t),1,16))::UBIGINT) AS hs,
                     len(ts) AS n
              FROM toks
            ), raw AS (
              SELECT doc_id,
                     CASE WHEN n = 0 THEN 0::HUGEINT
                          ELSE list_sum(list_transform(range(0,64), b ->
                               CASE WHEN 2*list_sum(list_transform(hs,
                                         h -> ((h >> b) & 1)::BIGINT)) > n
                                    THEN (1::HUGEINT << b)
                                    ELSE 0::HUGEINT END))
                     END AS u
              FROM hv
            )
            SELECT doc_id,
                   CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                             THEN u - 18446744073709551616::HUGEINT
                             ELSE u END AS BIGINT) AS simhash
            FROM raw
        """,
        "dedup_minhash_lsh": _minhash_pairs_sql,
        # connected components over the LSH pairs: bidirectional edges,
        # recursive min-reachable-label closure, one label row per vertex
        "dedup_components": f"""
            WITH RECURSIVE mdup AS MATERIALIZED (
              SELECT id_a, id_b FROM ({_minhash_pairs_sql}) q
            ), edges AS MATERIALIZED (
              SELECT id_a AS s, id_b AS d FROM mdup
              UNION
              SELECT id_b, id_a FROM mdup
            ), reach AS (
              SELECT s AS id, s AS comp FROM edges
              UNION
              SELECT e.s, r.comp FROM edges e JOIN reach r ON e.d = r.id
            )
            SELECT id AS doc_id, min(comp) AS comp_id
            FROM reach GROUP BY id
        """,
        # C4-style duplicate-segment removal: 10-word segments, global
        # keep-first occurrence (min (doc_id, seg_idx)), docs reassembled
        # from the surviving occurrences in segment order
        "dedup_segments": r"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR trim(text) = ''
                          THEN []::VARCHAR[]
                          ELSE string_split_regex(trim(lower(text)), '\s+')
                     END AS ts
              FROM documents
            ), seglists AS (
              SELECT doc_id,
                     list_transform(
                         range(0, CAST(ceil(len(ts) / 10.0) AS BIGINT)),
                         i -> array_to_string(ts[i*10+1 : i*10+10], ' ')
                     ) AS sl
              FROM toks
            ), segs AS (
              SELECT doc_id,
                     generate_subscripts(sl, 1) - 1 AS seg_idx,
                     unnest(sl) AS seg
              FROM seglists
            ), ranked AS (
              SELECT doc_id, seg_idx, seg,
                     row_number() OVER (PARTITION BY seg
                                        ORDER BY doc_id, seg_idx) AS rn
              FROM segs
            ), rebuilt AS (
              SELECT doc_id,
                     string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
                     count(*) AS n_kept_segments
              FROM ranked WHERE rn = 1 GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(r.clean_text, '') AS clean_text,
                   coalesce(r.n_kept_segments, 0) AS n_kept_segments
            FROM documents d LEFT JOIN rebuilt r USING (doc_id)
        """,
        # unigram-LM quality: corpus-MLE token probabilities, per-doc
        # mean -log2 p, rounded at 6 decimals on both sides
        "unigram_logprob": r"""
            WITH tok_rows AS (
              SELECT doc_id, t.tok
              FROM (
                SELECT doc_id,
                       CASE WHEN text IS NULL OR trim(text) = ''
                            THEN []::VARCHAR[]
                            ELSE string_split_regex(trim(lower(text)), '\s+')
                       END AS ts
                FROM documents
              ), unnest(ts) t(tok)
              WHERE t.tok <> ''
            ), vocab AS (
              SELECT tok, count(*) AS tc FROM tok_rows GROUP BY tok
            ), tot AS (
              SELECT count(*) AS tt FROM tok_rows
            ), scored AS (
              SELECT doc_id, count(*) AS n_tokens,
                     round(avg(-log2(CAST(tc AS DOUBLE) / tt)), 6)
                         AS avg_neg_log2p
              FROM tok_rows JOIN vocab USING (tok), tot
              GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(s.n_tokens, 0) AS n_tokens,
                   coalesce(s.avg_neg_log2p, 0.0) AS avg_neg_log2p
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "ann_topk": """
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                                b.vec_id
                   ) AS rank
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            QUALIFY rank <= 5
        """,
        # full value oracle for LSH ANN: integer-exact bucket assignment
        # (quantized embeddings × integer planes), candidate bucket join,
        # exact cosine rescore with the same (-cosine, id) tie-break
        "ann_lsh": "WITH " + _lsh_buckets_cte(64, 4, 24) + """
            , cand AS (
              SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
              FROM buckets a
              JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
              WHERE a.vec_id <> b.vec_id
            )
            SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY list_cosine_similarity(
                                      ea.embedding, eb.embedding) DESC,
                                  neighbor_id) AS rank
              FROM cand
              JOIN embeddings ea ON ea.vec_id = query_id
              JOIN embeddings eb ON eb.vec_id = neighbor_id
            )
            WHERE rank <= 5
        """,
        # full value oracle for LSH near-dup pairs: same exact buckets,
        # threshold compare mirrors the kernel's sequential double fold
        # dot/(sqrt(na)*sqrt(nb))
        "embed_near_dup": "WITH " + _lsh_buckets_cte(64, 6, 8) + """
            , cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM buckets a
              JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
              WHERE a.vec_id < b.vec_id
            )
            SELECT id_a, id_b
            FROM cand
            JOIN embeddings ea ON ea.vec_id = id_a
            JOIN embeddings eb ON eb.vec_id = id_b
            WHERE list_sum(list_transform(range(1, 65),
                      i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(range(1, 65),
                         i -> ea.embedding[i]::DOUBLE * ea.embedding[i]::DOUBLE)))
                     * sqrt(list_sum(list_transform(range(1, 65),
                         i -> eb.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE))))
                  >= 0.35
        """,
        "embed_near_dup_exact": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_inner_product(a.v, b.v)
                  / (sqrt(list_inner_product(a.v, a.v))
                     * sqrt(list_inner_product(b.v, b.v))) >= 0.35
        """,
        "media_features": """
            WITH m AS (
                SELECT i AS media_id,
                       ['image','audio','video'][(i % 3 + 1)::INT] AS kind,
                       repeat(unhex(sha256('media-' || i)),
                              (i % 4 + 1)::INT) AS payload
                FROM range(0, 128) t(i)
            )
            SELECT media_id, kind,
                   octet_length(payload)::INT AS n_bytes,
                   sha256(upper(hex(payload))) AS hex_sha256
            FROM m
        """,
        # S8/S9 save-and-embed: same synthetic payload rebuild as
        # media_features, base64 data-URI image block
        "s8_embed_media": """
            WITH m AS (
                SELECT i AS media_id,
                       ['image','audio','video'][(i % 3 + 1)::INT] AS kind,
                       ['image/png','audio/wav','video/mp4'][(i % 3 + 1)::INT]
                           AS mime,
                       repeat(unhex(sha256('media-' || i)),
                              (i % 4 + 1)::INT) AS payload
                FROM range(0, 128) t(i)
            )
            SELECT media_id,
                   '<div class="full-width"><img src="data:' || mime
                   || ';base64,' || to_base64(payload::BLOB)
                   || '" alt="' || kind || '"></div>' AS html
            FROM m
        """,
        # §2.8 span-source union through the real kernel: the sanitized
        # body is a guaranteed single plaintext paragraph, so extraction
        # = body + caption + row-major non-blank cells + headers joined
        # with '\n\n', and n_spans counts them
        "s28_table_spans": r"""
            WITH t AS (
              SELECT source AS conv_id, CAST(doc_id AS INTEGER) AS turn_idx,
                     doc_id,
                     trim('w ' || trim(regexp_replace(regexp_replace(
                         lower(coalesce(text, '')),
                         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS body
              FROM documents
            ), aux AS (
              SELECT conv_id, turn_idx, body,
                     CASE WHEN doc_id % 3 = 0
                          THEN ['Figure ' || CAST(doc_id AS VARCHAR) || ': '
                                || substr(body, 1, 20)]
                          ELSE []::VARCHAR[] END AS cap,
                     CASE WHEN doc_id % 4 = 0
                          THEN list_filter(
                               [substr(body, 3, 8),
                                'v' || CAST(doc_id AS VARCHAR),
                                '',
                                substr(body, 11, 8)],
                               x -> trim(x) <> '')
                          ELSE []::VARCHAR[] END AS cells_flat,
                     CASE WHEN doc_id % 4 = 0
                          THEN ['metric', 'value']
                          ELSE []::VARCHAR[] END AS hdrs
              FROM t
            )
            SELECT conv_id, turn_idx,
                   array_to_string([body] || cap || cells_flat || hdrs,
                                   chr(10) || chr(10)) AS extracted_text,
                   CAST(1 + len(cap) + len(cells_flat) + len(hdrs)
                        AS INTEGER) AS n_spans
            FROM aux
        """,
        # PII battery: same decoration + same ordered regex chain, with
        # counts measured on the same intermediate state as the kernel.
        # Generated from scrub._ORDERED so the two sides cannot drift.
        "pii_redact": _pii_oracle(),
        "badwords_filter": _badwords_oracle(),
        "cms_hitters": _cms_oracle(),
        "pagerank": _pagerank_oracle(),
        # anchor_rollup: same decorated edges; oracle affords the
        # plain per-target window the distributed plan avoids
        "anchor_rollup": """
            WITH e AS (
                SELECT 'h' || CAST(('0x' || substr(md5('a' ||
                           CAST(doc_id AS VARCHAR)), 1, 8))
                           ::UBIGINT::BIGINT % 7 AS VARCHAR) AS dst,
                       (['home', 'click here', 'read more', 'docs'])
                           [CAST(doc_id % 4 AS INT) + 1] AS anchor
                FROM documents
            ), counts AS (
                SELECT dst, anchor, count(*)::BIGINT AS n_refs
                FROM e GROUP BY 1, 2
            ), ranked AS (
                SELECT dst, anchor, n_refs,
                       row_number() OVER (PARTITION BY dst
                           ORDER BY n_refs DESC NULLS LAST, anchor)
                           ::BIGINT AS rank
                FROM counts
            )
            SELECT dst, anchor, n_refs, rank FROM ranked WHERE rank <= 2
        """,
        # topk_group: the oracle affords the plain hot-key window the
        # distributed plan avoids
        "topk_group": """
            WITH ranked AS (
                SELECT source, doc_id, n_chars,
                       row_number() OVER (PARTITION BY source
                           ORDER BY n_chars DESC NULLS LAST, doc_id)
                           ::BIGINT AS rank
                FROM documents
            )
            SELECT source, doc_id, n_chars, rank
            FROM ranked WHERE rank <= 3
        """,
        # quantized_ann: quantization replayed per vector (max is
        # accumulation-free, the grid map is one IEEE mul/div/floor),
        # dots on the BIGINT lists — exact in float64 for |q| <= 127,
        # dim 64, so the CAST is lossless
        "quantized_ann": """
            WITH base AS (
                SELECT vec_id, embedding,
                       CAST(list_max(list_transform(embedding,
                            x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE) AS amax
                FROM embeddings
            ), q AS (
                SELECT vec_id,
                       CASE WHEN amax = 0
                            THEN list_transform(embedding, x -> 0::BIGINT)
                            ELSE list_transform(embedding,
                                 x -> floor(127.0 * CAST(x AS DOUBLE)
                                            / amax + 0.5)::BIGINT)
                       END AS qv
                FROM base
            ), pairs AS (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS qdot
                FROM q a JOIN q b ON a.vec_id <> b.vec_id
            ), ranked AS (
                SELECT query_id, neighbor_id, qdot,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY qdot DESC, neighbor_id) AS rank
                FROM pairs
            )
            SELECT query_id, neighbor_id, qdot, rank
            FROM ranked WHERE rank <= 5
        """,
        # snapshot_churn: same decorated new snapshot; status via
        # NULL-safe direct text comparison (equivalent to the
        # operator's injective digest equality — digests are a pure
        # function of the values)
        "snapshot_churn": """
            WITH old AS (SELECT doc_id, text FROM documents),
            new AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 11 <> 0
                UNION ALL
                SELECT doc_id + 10000, 'fresh ' || CAST(doc_id AS VARCHAR)
                FROM documents WHERE doc_id % 17 = 0
            ), j AS (
                SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                       CASE WHEN o.doc_id IS NULL THEN 'added'
                            WHEN n.doc_id IS NULL THEN 'removed'
                            WHEN o.text IS DISTINCT FROM n.text
                                THEN 'changed'
                            ELSE 'unchanged' END AS status
                FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
            ), c AS (
                SELECT status, count(*)::BIGINT AS n_status
                FROM j GROUP BY 1
            )
            SELECT j.doc_id, j.status, c.n_status
            FROM j JOIN c USING (status)
        """,
        # quality_audit: every rule's count recomputed independently as
        # a scalar subquery over the same decorated relation; the check
        # rule's NULL-is-violation via NOT coalesce(expr, FALSE)
        "quality_audit": """
            WITH src AS (
                SELECT doc_id % 450 AS key,
                       CASE WHEN doc_id % 19 = 0 THEN NULL
                            ELSE text END AS text,
                       CASE WHEN doc_id % 13 = 0 THEN 'EN '
                            ELSE lang END AS lang,
                       (CASE WHEN doc_id % 29 = 0 THEN -1
                             ELSE n_chars END)::BIGINT AS n_chars
                FROM documents
            ), n AS (SELECT count(*)::BIGINT AS c FROM src)
            SELECT 'text_present' AS rule_id,
                   (SELECT count(*) FROM src WHERE text IS NULL)::BIGINT
                       AS n_violations,
                   c AS n_rows FROM n
            UNION ALL SELECT 'key_unique',
                   (SELECT count(key) - count(DISTINCT key)
                    FROM src)::BIGINT, c FROM n
            UNION ALL SELECT 'chars_range',
                   (SELECT count(*) FROM src WHERE n_chars IS NOT NULL
                    AND (n_chars < 1 OR n_chars > 100000))::BIGINT, c FROM n
            UNION ALL SELECT 'lang_shape',
                   (SELECT count(*) FROM src WHERE lang IS NOT NULL
                    AND NOT regexp_matches(lang, '^[a-z]{2}$'))::BIGINT,
                   c FROM n
            UNION ALL SELECT 'lang_known',
                   (SELECT count(*) FROM src WHERE lang IS NOT NULL
                    AND lang NOT IN ('en', 'fr', 'de', 'es', 'zh'))::BIGINT,
                   c FROM n
            UNION ALL SELECT 'chars_consistent',
                   (SELECT count(*) FROM src
                    WHERE NOT coalesce(n_chars = length(text),
                                       FALSE))::BIGINT, c FROM n
        """,
        # shard_manifest: the one global md5 permutation as a plain
        # row_number (the oracle can afford the single sort the
        # distributed plan avoids), same integer shard arithmetic
        "shard_manifest": """
            WITH ranked AS (
                SELECT doc_id, coalesce(length(text), 0)::BIGINT AS len,
                       row_number() OVER (
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) - 1 AS rk
                FROM documents
            ), asg AS (
                SELECT doc_id, len,
                       CAST(rk // 64 AS BIGINT) AS shard_id,
                       CAST(rk % 64 AS BIGINT) AS pos_in_shard
                FROM ranked
            ), summ AS (
                SELECT shard_id, count(*)::BIGINT AS shard_docs,
                       sum(len)::BIGINT AS shard_chars
                FROM asg GROUP BY 1
            )
            SELECT a.doc_id, a.shard_id, a.pos_in_shard,
                   shard_docs, shard_chars
            FROM asg a JOIN summ USING (shard_id)
        """,
        "html_main_content": _html_main_oracle(),
        "curation_pipeline": _curation_oracle(),
        # decontamination: inverted 4-gram index join against the
        # md5-sampled eval set (same cutoff literal as hash_sample(0.05))
        "decontaminate": r"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                          ELSE string_split_regex(trim(lower(text)), '\s+')
                     END AS ts
              FROM documents
            ), shng AS (
              SELECT doc_id,
                     CASE WHEN len(ts) >= 4
                          THEN list_distinct(list_transform(range(0, len(ts)-3),
                               i -> ts[i+1] || ' ' || ts[i+2] || ' '
                                    || ts[i+3] || ' ' || ts[i+4]))
                          ELSE [array_to_string(ts, ' ')] END AS ss
              FROM toks
            ), train AS (
              SELECT doc_id AS train_id, unnest(ss) AS shingle FROM shng
            ), ev AS (
              SELECT doc_id AS eval_id, unnest(ss) AS shingle FROM shng
              WHERE md5(CAST(doc_id AS VARCHAR)) < '__EVAL_CUTOFF__'
            )
            SELECT train_id,
                   count(DISTINCT t.shingle) AS n_hits,
                   count(DISTINCT e.eval_id) AS n_eval_docs
            FROM train t JOIN ev e ON t.shingle = e.shingle
            GROUP BY train_id
            HAVING count(DISTINCT t.shingle) >= 1
        """.replace("__EVAL_CUTOFF__", format(int(0.05 * (1 << 64)), "016x")),
        # full value oracle for the T8 rule-based sentence tokenizer: the
        # kernel's boundary regex uses a lookahead (RE2 has none), so the
        # oracle splits at every candidate and re-applies the lookahead
        # as a check on the following piece; a rejected/suppressed
        # candidate's terminator keeps the tail nonempty, hence the
        # m > last_acc clause
        "t8_sentences": r"""
            WITH base AS (
              SELECT doc_id, text,
                     regexp_split_to_array(text,
                         '[.!?]["''’”\)\]]*\s+') AS pieces,
                     regexp_extract_all(text,
                         '([.!?])["''’”\)\]]*\s+', 1) AS terms
              FROM documents
            ), cand AS (
              SELECT doc_id, text, pieces, terms, len(terms) AS m,
                     list_transform(range(1, len(terms)+1), c ->
                         CASE WHEN regexp_matches(pieces[c+1],
                                       '^["''“‘(\[]*[A-Z0-9]')
                                   AND NOT (terms[c] = '.' AND (
                                       list_contains(__ABBR__,
                                           lower(rtrim(regexp_extract(pieces[c],
                                               '([A-Za-z][A-Za-z.]*)$', 1), '.')))
                                       OR regexp_matches(
                                           lower(rtrim(regexp_extract(pieces[c],
                                               '([A-Za-z][A-Za-z.]*)$', 1), '.')),
                                           '^[a-z]$')
                                       OR regexp_matches(
                                           lower(rtrim(regexp_extract(pieces[c],
                                               '([A-Za-z][A-Za-z.]*)$', 1), '.')),
                                           '^[a-z]{1,2}(\.[a-z]{1,2})+$')))
                              THEN 1 ELSE 0 END) AS acc
              FROM base
            ), agg AS (
              SELECT doc_id, text, pieces, m,
                     coalesce(list_sum(acc), 0)::BIGINT AS n_acc,
                     coalesce(list_max(list_transform(range(1, m+1),
                         c -> CASE WHEN acc[c] = 1 THEN c ELSE 0 END)), 0)
                         AS last_acc
              FROM cand
            )
            SELECT doc_id,
                   CAST(CASE WHEN text IS NULL
                                  OR trim(text, ' ' || chr(9) || chr(10)
                                          || chr(13)) = ''
                             THEN 0
                             ELSE n_acc + (CASE WHEN m > last_acc
                                                OR trim(pieces[m+1],
                                                    ' ' || chr(9) || chr(10)
                                                    || chr(13)) <> ''
                                           THEN 1 ELSE 0 END)
                        END AS INTEGER) AS n_sentences
            FROM agg
        """.replace("__ABBR__", _abbr_lit),
        "s1_format_detect": r'''
            WITH deco AS (
                SELECT doc_id,
                    CASE (doc_id % 6)::INT
                      WHEN 0 THEN 'Page ' || ((doc_id % 40) + 1)::VARCHAR
                           || ' of 40' || chr(10) || text || chr(10)
                           || '---' || chr(10) || '© 2024 ExampleCorp'
                      WHEN 1 THEN '# Doc ' || doc_id::VARCHAR || chr(10)
                           || chr(10) || text || chr(10) || chr(10)
                           || '```python' || chr(10) || 'x = '
                           || doc_id::VARCHAR || chr(10) || 'print(x)'
                           || chr(10) || '```'
                      WHEN 2 THEN '"""Doc ' || doc_id::VARCHAR || '.'
                           || chr(10) || substr(text, 1, 80) || chr(10)
                           || '"""' || chr(10) || '# note '
                           || doc_id::VARCHAR || chr(10) || 'def f():'
                           || chr(10) || '    return '
                           || (doc_id % 13)::VARCHAR
                      WHEN 3 THEN '// note ' || doc_id::VARCHAR || chr(10)
                           || 'int main() {' || chr(10) || '  /* '
                           || substr(text, 1, 80) || ' */' || chr(10)
                           || '  return 0;' || chr(10) || '}'
                      WHEN 4 THEN '#!/bin/bash' || chr(10) || '# '
                           || substr(text, 1, 80) || chr(10) || 'echo '
                           || doc_id::VARCHAR
                      ELSE text END AS d0,
                    CASE (doc_id % 6)::INT
                      WHEN 2 THEN 'python' WHEN 3 THEN 'cpp'
                      WHEN 4 THEN 'bash' ELSE '' END AS tool
                FROM documents
            ),
            deco2 AS (
                SELECT tool,
                       CASE WHEN doc_id % 7 = 0
                            THEN d0 || chr(10) || chr(10)
                                 || 'x^{2} + y_{i} &= \frac{a}{b}'
                            ELSE d0 END AS d
                FROM deco
            ),
            fam AS (
                SELECT CASE
                    WHEN tool = 'python' THEN 'python'
                    WHEN tool = 'cpp' THEN 'c_style'
                    WHEN tool = 'bash' THEN 'shell'
                    WHEN regexp_matches(d, '^#!') THEN 'shell'
                    WHEN contains(d, '```') OR contains(d, '~~~')
                         THEN 'markdown'
                    WHEN regexp_matches(d,
                        '(?m)^\s*(def |class |import |from \S+ import |""")')
                         THEN 'python'
                    WHEN regexp_matches(d, '(^|\n)\s*(//|/\*)')
                         THEN 'c_style'
                    WHEN regexp_matches(d, '^\s*[\[{]')
                         AND right(rtrim(d, ' ' || chr(9) || chr(10)
                                            || chr(11) || chr(12)
                                            || chr(13)), 1) IN ('}', ']')
                         THEN 'config'
                    ELSE 'plaintext' END AS family
                FROM deco2
            )
            SELECT family, count(*) AS n_turns FROM fam GROUP BY family
        ''',
        "dedup_ngram_jaccard": r"""
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS tk
                FROM documents WHERE text IS NOT NULL
            ),
            sh AS (
                SELECT doc_id,
                       unnest(CASE WHEN len(tk) >= 4
                           THEN list_distinct(list_transform(
                               generate_series(1, len(tk) - 3),
                               i -> array_to_string(tk[i:i+3], ' ')))
                           ELSE [array_to_string(tk, ' ')] END) AS shingle
                FROM toks
            ),
            freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
            rare AS (
                SELECT s.doc_id, s.shingle
                FROM sh s JOIN freq f USING (shingle) WHERE f.df <= 20
            ),
            -- informative (post-stop-shingle) set sizes: Jaccard drops
            -- hot shingles from BOTH intersection and union, so
            -- identical docs score 1.0 regardless of stop-shingle mass
            sizes AS (SELECT doc_id, count(*) AS sz FROM rare GROUP BY doc_id),
            common AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS nc
                FROM rare a JOIN rare b USING (shingle)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE nc / (sa.sz + sb.sz - nc) >= 0.3
        """,
        "nb_quality": _nb_oracle(),
        # text_battery: the lang-ID, quality-feature and token-count CTE
        # chains over ONE decorated doc table (the %23 CJK decoration
        # feeds all three). The quality chain is CJK-aware like
        # text_analysis.quality_features: RE2's \w is ASCII like Java's,
        # so CJK chars are excluded from punctuation explicitly and
        # mostly-CJK docs take char-band + script-coherence score terms;
        # the class literals are the SAME characters as CJK_RANGES.
        "text_battery": r"""
            WITH d AS (
                SELECT doc_id,
                    CASE WHEN doc_id % 23 = 0 THEN
                        '기계 학습 모델은 대규모 데이터 집합에서 패턴을 학습합니다 '
                        || '机器学习模型从大规模数据集中学习模式 文档 '
                        || CAST(doc_id AS VARCHAR)
                    ELSE text END AS text
                FROM documents
            ), s AS (
                SELECT doc_id,
                    len(regexp_extract_all(lower(text),
                        '\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b')) AS h_de,
                    len(regexp_extract_all(lower(text),
                        '\b(the|and|of|to|is|in|that|it|for|was)\b')) AS h_en,
                    len(regexp_extract_all(lower(text),
                        '\b(el|la|los|las|de|que|y|en|un|una|es)\b')) AS h_es,
                    len(regexp_extract_all(lower(text),
                        '\b(le|la|les|des|une|est|et|que|dans|pour)\b')) AS h_fr,
                    len(regexp_extract_all(lower(text), '[぀-ヿ]')) AS h_ja,
                    len(regexp_extract_all(lower(text), '[가-힯]')) AS h_ko,
                    len(regexp_extract_all(lower(text), '[一-鿿]')) AS h_zh
                FROM d
            ), g AS (
                SELECT *, greatest(h_de,h_en,h_es,h_fr,h_ja,h_ko,h_zh) AS m FROM s
            ), lang AS (
                SELECT doc_id,
                       CASE WHEN m = 0 THEN 'unknown'
                            WHEN h_de = m THEN 'de'
                            WHEN h_en = m THEN 'en'
                            WHEN h_es = m THEN 'es'
                            WHEN h_fr = m THEN 'fr'
                            WHEN h_ja = m THEN 'ja'
                            WHEN h_ko = m THEN 'ko'
                            ELSE 'zh' END AS pred_lang
                FROM g
            ), q AS (
                SELECT doc_id,
                    length(text) AS n_chars,
                    CASE WHEN trim(text) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
                    len(regexp_extract_all(text, '[^\w\s一-鿿぀-ヿ가-힯]')) AS n_punct,
                    len(regexp_extract_all(text, '[一-鿿぀-ヿ가-힯]')) AS n_cjk,
                    len(regexp_extract_all(lower(text),
                        '\b(the|and|of|to|is|in|that|it|for|was)\b')) AS n_stop,
                    len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
                FROM d
            ), r AS (
                SELECT doc_id, n_words, n_chars, bpe_tokens,
                    CASE WHEN n_chars > 0
                         THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
                    CASE WHEN n_words > 0
                         THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END AS stop_ratio,
                    CASE WHEN n_words > 0
                         THEN CAST(n_chars AS DOUBLE) / n_words ELSE 0.0 END AS mean_wlen,
                    CASE WHEN n_chars > 0
                         THEN CAST(n_cjk AS DOUBLE) / n_chars ELSE 0.0 END AS cjk_ratio
                FROM q
            )
            SELECT r.doc_id,
                   lang.pred_lang,
                   CAST(r.n_words AS BIGINT) AS n_words,
                   r.punct_ratio, r.stop_ratio, r.cjk_ratio,
                   (CASE WHEN CASE WHEN r.cjk_ratio >= 0.3 THEN r.n_chars >= 10
                              ELSE r.mean_wlen >= 3.0 AND r.mean_wlen <= 12.0 END
                         THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                    + CASE WHEN r.punct_ratio <= 0.2
                           THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                    + CASE WHEN r.cjk_ratio >= 0.3 OR r.stop_ratio >= 0.05
                           THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
                   AS quality_score,
                   CAST(r.n_words AS BIGINT) AS ws_tokens,
                   CAST(r.bpe_tokens AS BIGINT) AS bpe_tokens
            FROM r JOIN lang ON r.doc_id = lang.doc_id
        """,
        # per-source data card: histogram-based exact type-1 quantiles
        # with the rank in integer arithmetic, mirroring corpus_profile
        "corpus_profile": r"""
            WITH lens AS (
                SELECT source AS g,
                       length(coalesce(text, '')) AS l,
                       md5(coalesce(text, '')) AS fp
                FROM documents
            ), base AS (
                SELECT g,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(coalesce(sum(l), 0) AS BIGINT) AS total_chars,
                       CAST(count(DISTINCT fp) AS BIGINT) AS distinct_texts
                FROM lens GROUP BY g
            ), hist AS (
                SELECT g, l, CAST(count(*) AS BIGINT) AS c
                FROM lens GROUP BY g, l
            ), cum AS (
                SELECT g, l,
                       sum(c) OVER (PARTITION BY g ORDER BY l) AS rc
                FROM hist
            ), qs AS (
                SELECT cum.g,
                       CAST(min(CASE WHEN rc >= (b.n_docs * 25 + 99) // 100
                                     THEN l END) AS BIGINT) AS p25_len,
                       CAST(min(CASE WHEN rc >= (b.n_docs * 50 + 99) // 100
                                     THEN l END) AS BIGINT) AS p50_len,
                       CAST(min(CASE WHEN rc >= (b.n_docs * 75 + 99) // 100
                                     THEN l END) AS BIGINT) AS p75_len,
                       CAST(min(CASE WHEN rc >= (b.n_docs * 90 + 99) // 100
                                     THEN l END) AS BIGINT) AS p90_len
                FROM cum JOIN base b ON cum.g = b.g
                GROUP BY cum.g
            )
            SELECT b.g AS source, b.n_docs, b.total_chars, b.distinct_texts,
                   qs.p25_len, qs.p50_len, qs.p75_len, qs.p90_len
            FROM base b JOIN qs ON b.g = qs.g
        """,
        "fingerprint": r"""
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "rolling_fingerprint": r"""
            WITH n AS (
                SELECT doc_id,
                       lower(regexp_replace(trim(text), '\s+', ' ', 'g'))
                           AS norm
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN norm IS NULL THEN NULL
                        WHEN length(norm) = 0 THEN 0
                        ELSE list_reduce(
                            list_transform(
                                generate_series(1, length(norm)),
                                j -> unicode(substr(norm, j, 1))::BIGINT),
                            (a, b) -> (a * 31 + b) % 1099511627776)
                   END AS rolling_fp
            FROM n
        """,
        # full value oracle for winnowing (MOSS): direct polynomial k-gram
        # hash is congruent to the kernel's rolling form; selections are
        # non-decreasing under the rightmost-min rule, so the kernel's
        # consecutive-dedup equals list_distinct
        "winnow_fingerprints": r"""
            WITH norm AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS s
              FROM documents
            ), cp AS (
              SELECT doc_id,
                     list_transform(string_split(s, ''),
                                    c -> unicode(c)::BIGINT) AS cps,
                     length(s) AS ln
              FROM norm
            ), hs AS (
              SELECT doc_id, ln - 4 AS n,
                     list_transform(range(0, ln - 4), j ->
                         (cps[j+1]*923521 + cps[j+2]*29791 + cps[j+3]*961
                          + cps[j+4]*31 + cps[j+5]) % 1099511627776) AS h
              FROM cp
              WHERE ln >= 5
            ), sel AS (
              SELECT doc_id, h,
                     CASE WHEN n <= 4 THEN
                         [list_max(list_transform(range(1, n+1),
                              i -> CASE WHEN h[i] = list_min(h)
                                   THEN i-1 ELSE -1 END))]
                     ELSE
                         list_distinct(list_transform(range(0, n-3), w ->
                             w + list_max(list_transform(range(1, 5),
                                 i -> CASE WHEN h[w+i] = list_min(h[w+1:w+4])
                                      THEN i-1 ELSE -1 END))))
                     END AS sels
              FROM hs
            )
            SELECT doc_id, h[s+1] AS fp, s::INTEGER AS pos
            FROM sel, unnest(sels) AS u(s)
        """,
        "winnow_pairs": r"""
            WITH norm AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS s
              FROM documents
            ), cp AS (
              SELECT doc_id,
                     list_transform(string_split(s, ''),
                                    c -> unicode(c)::BIGINT) AS cps,
                     length(s) AS ln
              FROM norm
            ), hs AS (
              SELECT doc_id, ln - 4 AS n,
                     list_transform(range(0, ln - 4), j ->
                         (cps[j+1]*923521 + cps[j+2]*29791 + cps[j+3]*961
                          + cps[j+4]*31 + cps[j+5]) % 1099511627776) AS h
              FROM cp
              WHERE ln >= 5
            ), sel AS (
              SELECT doc_id, h,
                     CASE WHEN n <= 4 THEN
                         [list_max(list_transform(range(1, n+1),
                              i -> CASE WHEN h[i] = list_min(h)
                                   THEN i-1 ELSE -1 END))]
                     ELSE
                         list_distinct(list_transform(range(0, n-3), w ->
                             w + list_max(list_transform(range(1, 5),
                                 i -> CASE WHEN h[w+i] = list_min(h[w+1:w+4])
                                      THEN i-1 ELSE -1 END))))
                     END AS sels
              FROM hs
            ), fps AS (
              SELECT DISTINCT doc_id, h[s+1] AS fp
              FROM sel, unnest(sels) AS u(s)
            ), rare AS (
              SELECT doc_id, fp FROM fps
              WHERE fp NOT IN (
                  SELECT fp FROM fps GROUP BY fp HAVING count(*) > 50)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*) AS n_shared
            FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 3
        """,
        "repetition": r"""
            WITH base AS (
                SELECT doc_id,
                       list_filter(string_split(text, chr(10)),
                                   ln -> trim(ln) <> '') AS lines,
                       string_split_regex(lower(trim(text)), '\s+') AS tk
                FROM documents
            ),
            bg AS (
                SELECT doc_id, lines,
                       CASE WHEN len(tk) >= 2
                            THEN list_transform(
                                generate_series(1, len(tk) - 1),
                                i -> tk[i] || ' ' || tk[i+1])
                            ELSE [] END AS bigrams,
                       len(tk) - 1 AS n_big
                FROM base
            )
            SELECT doc_id,
                   CASE WHEN len(lines) > 0 THEN len(lines) ELSE 0 END
                       AS n_lines,
                   CASE WHEN len(lines) > 0
                        THEN (len(lines) - len(list_distinct(lines)))::DOUBLE
                             / len(lines)::DOUBLE
                        ELSE 0.0 END AS dup_line_ratio,
                   CASE WHEN n_big > 0
                        THEN list_max(list_transform(
                                 list_distinct(bigrams),
                                 b -> len(list_filter(bigrams, x -> x = b))
                             ))::DOUBLE / n_big::DOUBLE
                        ELSE 0.0 END AS top_bigram_ratio
            FROM bg
        """,
        # one slot, three samplers: each UNION branch is the original
        # stand-alone oracle with a method tag
        "sample_battery": r"""
            WITH mixtoks AS (
              SELECT source, doc_id,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                          END AS BIGINT) AS wt
              FROM documents
            ), mixtot AS (
              SELECT source, CAST(sum(wt) AS BIGINT) AS stoks
              FROM mixtoks GROUP BY source
            ), mixw(source, wgt) AS (
              VALUES ('src0', 0.4), ('src1', 0.25), ('src2', 0.2),
                     ('src3', 0.1), ('src4', 0.05)
            ), mixf AS (
              SELECT t.source,
                     t.stoks,
                     CAST(floor(least(1.0,
                          w.wgt * 3000.0 / CAST(t.stoks AS DOUBLE))
                          * 1152921504606846976.0) AS BIGINT) AS cutoff
              FROM mixtot t JOIN mixw w ON t.source = w.source
            )
            SELECT 'hash' AS method, source, doc_id
            FROM documents
            WHERE md5(doc_id::VARCHAR) < '4000000000000000'
            UNION ALL
            SELECT 'quota' AS method, source, doc_id
            FROM documents
            QUALIFY row_number() OVER (
                PARTITION BY source
                ORDER BY md5(doc_id::VARCHAR), doc_id
            ) <= 7
            UNION ALL
            SELECT 'mixture' AS method, d.source, d.doc_id
            FROM documents d JOIN mixf f ON d.source = f.source
            WHERE f.stoks > 0
              AND ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                  < f.cutoff
        """,
        # DSIR (Xie et al. 2023): hashed unigram+bigram bag-of-words
        # likelihood ratio, add-one smoothed. Per-bucket log-ratios are
        # quantized to integer micro-units and summed in exact BIGINT
        # arithmetic (double sums are order-dependent; a round-at-the-
        # end guard split 1 doc per 5k at the 6-decimal grid), then one
        # exact division by 1e6. Micro (not nano) units keep the libm
        # ln's 1-ulp wobble ~1e-8 grid units from any x.5 rounding
        # boundary. DuckDB lists are 1-based;
        # generate_series(1, 0) is empty, so single-token docs get no
        # bigrams on either engine.
        "dsir_weights": r"""
            WITH tk AS (
              SELECT doc_id, doc_id % 11 = 0 AS is_tgt,
                     list_filter(
                         regexp_split_to_array(trim(lower(coalesce(text, ''))),
                                               '\s+'),
                         t -> t <> '') AS toks
              FROM documents
            ), grams AS (
              SELECT doc_id, is_tgt,
                     unnest(toks || list_transform(
                         generate_series(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i + 1])) AS g
              FROM tk
            ), rows_ AS (
              SELECT doc_id, is_tgt,
                     ('0x' || substr(md5(g), 1, 15))::BIGINT % 1024 AS b
              FROM grams
            ), rc AS (
              SELECT b, CAST(count(*) AS BIGINT) AS rcnt
              FROM rows_ WHERE NOT is_tgt GROUP BY b
            ), tc AS (
              SELECT b, CAST(count(*) AS BIGINT) AS tcnt
              FROM rows_ WHERE is_tgt GROUP BY b
            ), tot AS (
              SELECT (SELECT coalesce(sum(rcnt), 0) FROM rc) AS rtot,
                     (SELECT coalesce(sum(tcnt), 0) FROM tc) AS ttot
            ), ratio AS (
              SELECT rc.b,
                     CAST(round((ln((coalesce(tc.tcnt, 0) + 1)::DOUBLE
                              / (tot.ttot::DOUBLE + 1024.0))
                         - ln((rc.rcnt + 1)::DOUBLE
                              / (tot.rtot::DOUBLE + 1024.0)))
                         * 1000000.0) AS BIGINT) AS s
              FROM rc LEFT JOIN tc ON rc.b = tc.b, tot
            ), scored AS (
              SELECT r.doc_id,
                     CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(ratio.s) AS DOUBLE) / 1000000.0 AS log_weight
              FROM rows_ r JOIN ratio ON r.b = ratio.b
              WHERE NOT r.is_tgt
              GROUP BY r.doc_id
            )
            SELECT d.doc_id,
                   coalesce(s.n_grams, 0)::BIGINT AS n_grams,
                   coalesce(s.log_weight, 0.0) AS log_weight
            FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
            WHERE d.doc_id % 11 <> 0
        """,
        "pack_sequences": r"""
            WITH toks AS (
                SELECT doc_id, source,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text), '\s+'))
                       END AS ws_tokens
                FROM documents
            )
            SELECT doc_id,
                   CAST(ws_tokens AS BIGINT) AS ws_tokens,
                   CAST((sum(ws_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id
                    ) - ws_tokens) // 512 AS BIGINT) AS seq_bin
            FROM toks
        """,
        "session_window": """
            WITH marked AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            islands AS (
                SELECT user_id, ts,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            )
            SELECT user_id, min(ts) AS session_start,
                   count(*) AS n_events
            FROM islands GROUP BY user_id, sid
        """,
        "i18n_localize": """
            WITH d AS (
                SELECT doc_id,
                       ['job_started','engine_label','unknown_key',
                        'report_header'][(doc_id % 4 + 1)::INT] AS ui_key,
                       ['ko','en','de'][(doc_id % 3 + 1)::INT] AS ui_lang
                FROM documents
            )
            SELECT doc_id, ui_key, ui_lang,
                   CASE
                     WHEN ui_key = 'job_started' AND ui_lang = 'ko'
                          THEN '추출 작업 시작'
                     WHEN ui_key = 'job_started'
                          THEN 'Extraction job started'
                     WHEN ui_key = 'engine_label' THEN 'Map engine'
                     WHEN ui_key = 'report_header' AND ui_lang = 'ko'
                          THEN '추출 리포트'
                     WHEN ui_key = 'report_header'
                          THEN 'Extraction report'
                     ELSE ui_key END AS localized
            FROM d
        """,
        "a7_per_kind_counter": """
            SELECT event_id, user_id, event_type,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS kind_seq
            FROM events
        """,
        "w5_history_latest": """
            SELECT event_id, user_id, event_type
            FROM events
            ORDER BY ts DESC, event_id
            LIMIT 20
        """,
        # four per-doc scalar batteries in one driver slot (see
        # q_scalar_battery): O2 truncation, S9 base64, P6 empty guard,
        # §2.9 language-code normalization — all value-checked
        "scalar_battery": """
            SELECT doc_id,
                   CASE WHEN length(text) > 200
                        THEN substr(text, 1, 200) || '...'
                        ELSE text END AS tooltip,
                   to_base64(encode(substr(text, 1, 48))) AS b64,
                   CASE WHEN trim(text) = '' THEN '' ELSE text END AS out,
                   CASE lower(lang)
                        WHEN 'en' THEN 'English'   WHEN 'ko' THEN 'Korean'
                        WHEN 'ja' THEN 'Japanese'  WHEN 'zh' THEN 'Chinese'
                        WHEN 'fr' THEN 'French'    WHEN 'de' THEN 'German'
                        WHEN 'es' THEN 'Spanish'   WHEN 'ru' THEN 'Russian'
                        WHEN 'it' THEN 'Italian'   WHEN 'pt' THEN 'Portuguese'
                        WHEN 'ar' THEN 'Arabic'    WHEN 'hi' THEN 'Hindi'
                        WHEN 'auto' THEN 'the source language'
                        ELSE lang END AS lang_name,
                   CASE WHEN lang IS NULL OR lower(lang) = '' THEN NULL
                        WHEN lower(lang) = 'en' THEN 'EN'
                        WHEN lower(lang) = 'en-us' THEN 'EN-US'
                        WHEN lower(lang) = 'en-gb' THEN 'EN-GB'
                        WHEN lower(lang) = 'ko' THEN 'KO'
                        WHEN lower(lang) = 'ja' THEN 'JA'
                        WHEN lower(lang) = 'zh' THEN 'ZH'
                        WHEN contains(lower(lang), '-') THEN upper(lang)
                        ELSE upper(substr(lower(lang), 1, 2)) END AS deepl_code
            FROM documents
        """,
        "s7_render_html": """
            SELECT doc_id,
                   '<div class="paragraph-row"><div class="src-block">'
                   || '<span class="sent" id="'
                   || 'src-' || source || '-' || CAST(doc_id AS VARCHAR) || '-0'
                   || '">'
                   || replace(replace(replace(replace(replace(
                        substr(text, 1, 60),
                        '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
                        '"', '&quot;'), '''', '&#x27;')
                   || '</span></div><div class="tgt-block">'
                   || '<span class="sent" id="'
                   || 'tgt-' || source || '-' || CAST(doc_id AS VARCHAR) || '-0'
                   || '" data-src="'
                   || 'src-' || source || '-' || CAST(doc_id AS VARCHAR) || '-0'
                   || '">'
                   || replace(replace(replace(replace(replace(
                        upper(substr(text, 1, 60)),
                        '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
                        '"', '&quot;'), '''', '&#x27;')
                   || '</span></div></div>' AS html
            FROM documents
        """,
        # whole-document assembly: page markers (lag over the conv
        # window), formula blocks, paragraph rows, ordered string_agg,
        # with the DOC_HEADER/DOC_FOOTER constants inlined as literals
        "s7_render_document": r"""
            WITH turns AS (
              SELECT source AS conv_id, doc_id AS turn_idx,
                     coalesce(text, '') AS t,
                     doc_id % 40 + 1 AS page
              FROM documents
            ), rows_html AS (
              SELECT conv_id, turn_idx,
                 (CASE WHEN lag(page) OVER w IS NULL OR page <> lag(page) OVER w
                       THEN '<div class="page-marker">Page '
                            || CAST(page AS VARCHAR) || '</div>' || chr(10)
                       ELSE '' END)
                 ||
                 (CASE WHEN regexp_matches(t, '\\[a-zA-Z]+|\^\{|_\{|&=')
                  THEN '<div class="formula-block">'
                       || (CASE WHEN starts_with(trim(t), '$')
                                     OR starts_with(trim(t), '\[')
                                     OR starts_with(trim(t), '\(')
                                THEN trim(t)
                                WHEN contains(trim(t), '&')
                                THEN '\[\begin{aligned}' || trim(t)
                                     || '\end{aligned}\]'
                                ELSE '\[' || trim(t) || '\]' END)
                       || '</div>'
                  ELSE '<div class="paragraph-row"><div class="src-block">'
                       || '<span class="sent" id="'
                       || 'src-' || conv_id || '-' || CAST(turn_idx AS VARCHAR) || '-0'
                       || '">'
                       || replace(replace(replace(replace(replace(t,
                            '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
                            '"', '&quot;'), '''', '&#x27;')
                       || '</span></div><div class="tgt-block">'
                       || '<span class="sent" id="'
                       || 'tgt-' || conv_id || '-' || CAST(turn_idx AS VARCHAR) || '-0'
                       || '" data-src="'
                       || 'src-' || conv_id || '-' || CAST(turn_idx AS VARCHAR) || '-0'
                       || '">'
                       || replace(replace(replace(replace(replace(t,
                            '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
                            '"', '&quot;'), '''', '&#x27;')
                       || '</span></div></div>' END) AS row_html
              FROM turns
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            )
            SELECT conv_id,
                   __DOC_HEADER__
                   || string_agg(row_html, chr(10) ORDER BY turn_idx)
                   || chr(10) || __DOC_FOOTER__ AS html
            FROM rows_html
            GROUP BY conv_id
        """.replace("__DOC_HEADER__", _doc_header_lit).replace(
            "__DOC_FOOTER__", _doc_footer_lit
        ),
        "w_window_agg": """
            -- STRING window start + BIGINT integer cents: keep
            -- TIMESTAMP/DECIMAL away from the gate's type-sensitive value
            -- hash. DuckDB sum(BIGINT) widens to HUGEINT, so the outer
            -- CAST back to BIGINT matters.
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   count(*) AS n_events,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                       AS total_value_cents
            FROM events
            GROUP BY date_trunc('hour', ts)
        """,
        "s10_history_parse": r"""
            WITH names AS (
                SELECT CASE WHEN doc_id % 5 = 0
                            THEN 'badname_' || CAST(doc_id AS VARCHAR)
                            ELSE 'paper_v' || CAST(doc_id AS VARCHAR)
                                 || '_en_to_ko_2024'
                                 || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                                 || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                                 || '_'
                                 || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
                                 || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
                                 || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
                       END AS folder_name
                FROM documents
            ), parsed AS (
                SELECT regexp_extract(folder_name,
                           '^(.*)_([a-z]{2})_to_([a-z]{2})_(\d{8}_\d{6})$', 1) AS filename,
                       regexp_extract(folder_name,
                           '^(.*)_([a-z]{2})_to_([a-z]{2})_(\d{8}_\d{6})$', 2) AS src,
                       regexp_extract(folder_name,
                           '^(.*)_([a-z]{2})_to_([a-z]{2})_(\d{8}_\d{6})$', 3) AS dest,
                       regexp_extract(folder_name,
                           '^(.*)_([a-z]{2})_to_([a-z]{2})_(\d{8}_\d{6})$', 4) AS ts_raw
                FROM names
            )
            SELECT filename, src, dest,
                   strftime(strptime(ts_raw, '%Y%m%d_%H%M%S'),
                            '%Y-%m-%d %H:%M:%S') AS ts_display
            FROM parsed WHERE ts_raw <> ''
        """,
        # ann_ivf: the centroid literal comes from the SAME deterministic
        # training recipe the query runs (_ivf_centroid_values); the SQL
        # replays 2^20-grid quantization, BIGINT cell dots, (score DESC,
        # cell) assignment + nprobe probing, candidate join, and the
        # exact-cosine rescore with the (-cosine, id) tie-break — only
        # _kmeans itself stays pytest-pinned
        "ann_ivf": f"""
            WITH cent(cell, qc) AS (VALUES {_ivf_centroid_values()}),
            q AS (
              SELECT vec_id,
                     list_transform(embedding,
                         x -> CAST(floor(x * {float(_IVF_GRID)} + 0.5) AS BIGINT)
                     ) AS qe
              FROM embeddings
            ), scored AS (
              SELECT q.vec_id, c.cell,
                     list_sum(list_transform(range(1, {EMB_DIM + 1}),
                         i -> qe[i] * qc[i])) AS s
              FROM q, cent c
            ), ranked AS (
              SELECT vec_id, cell,
                     row_number() OVER (PARTITION BY vec_id
                         ORDER BY s DESC, cell) AS rn
              FROM scored
            ), inv AS (
              SELECT vec_id AS sid, cell FROM ranked WHERE rn = 1
            ), probes AS (
              SELECT vec_id AS qid, cell FROM ranked
              WHERE rn <= {IVF_NPROBE}
            ), cand AS (
              SELECT DISTINCT p.qid AS query_id, i.sid AS neighbor_id
              FROM probes p JOIN inv i USING (cell)
              WHERE p.qid <> i.sid
            )
            SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY list_cosine_similarity(
                                      ea.embedding, eb.embedding) DESC,
                                  neighbor_id) AS rank
              FROM cand
              JOIN embeddings ea ON ea.vec_id = query_id
              JOIN embeddings eb ON eb.vec_id = neighbor_id
            )
            WHERE rank <= {IVF_K}
        """,
        # semdedup: same deterministic centroid literal as ann_ivf
        # (shared constants + memoized helper); the SQL replays grid
        # quantization, BIGINT argmax cell assignment, the (cdot ASC,
        # id ASC) prune order, and the no-float cosine threshold test
        # in HUGEINT (10^6·dot² vs τ²·|a|²·|b|²) — bit-identical to
        # the engine's DECIMAL(38,0) arithmetic
        "semdedup": f"""
            WITH cent(cell, qc) AS (VALUES {_ivf_centroid_values()}),
            q AS (
              SELECT vec_id,
                     list_transform(embedding,
                         x -> CAST(floor(x * {float(_IVF_GRID)} + 0.5) AS BIGINT)
                     ) AS qe
              FROM embeddings
            ), scored AS (
              SELECT q.vec_id, c.cell,
                     list_sum(list_transform(range(1, {EMB_DIM + 1}),
                         i -> qe[i] * qc[i])) AS s
              FROM q, cent c
            ), asg AS (
              SELECT vec_id, CAST(cell AS BIGINT) AS cell,
                     CAST(s AS BIGINT) AS cdot
              FROM (
                SELECT vec_id, cell, s,
                       row_number() OVER (PARTITION BY vec_id
                           ORDER BY s DESC, cell) AS rn
                FROM scored
              ) WHERE rn = 1
            ), nn AS (
              SELECT vec_id,
                     CAST(list_sum(list_transform(qe, x -> x * x))
                          AS BIGINT) AS nsq
              FROM q
            ), pr AS (
              SELECT b.vec_id AS bid,
                     CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                          i -> qa.qe[i] * qb.qe[i])) AS BIGINT) AS d,
                     na.nsq AS ansq, nb.nsq AS bnsq
              FROM asg a
              JOIN asg b ON a.cell = b.cell
               AND (a.cdot < b.cdot
                    OR (a.cdot = b.cdot AND a.vec_id < b.vec_id))
              JOIN q qa ON qa.vec_id = a.vec_id
              JOIN q qb ON qb.vec_id = b.vec_id
              JOIN nn na ON na.vec_id = a.vec_id
              JOIN nn nb ON nb.vec_id = b.vec_id
            ), drp AS (
              SELECT DISTINCT bid AS vec_id FROM pr
              WHERE d > 0
                AND 1000000::HUGEINT
                    * (CAST(d AS HUGEINT) * CAST(d AS HUGEINT))
                    >= {SEMDEDUP_THR_MILLI * SEMDEDUP_THR_MILLI}::HUGEINT
                       * (CAST(ansq AS HUGEINT) * CAST(bnsq AS HUGEINT))
            )
            SELECT asg.vec_id, asg.cell, asg.cdot, nn.nsq,
                   (drp.vec_id IS NULL) AS kept
            FROM asg
            JOIN nn USING (vec_id)
            LEFT JOIN drp USING (vec_id)
        """,
        # ann_ivfpq: shared coarse centroid literal + the PQ codebook
        # literal from the same deterministic recipe; the SQL replays
        # coarse assignment/probing, per-subspace L2 code argmin
        # (cc − 2·dot, ties to lower code), the m-term ADC sum, and
        # the (adc DESC, id) top-k
        "ann_ivfpq": f"""
            WITH cent(cell, qc) AS (VALUES {_ivf_centroid_values()}),
            cb(j, kk, cvec, cc) AS (VALUES {_pq_codebook_values()}),
            q AS (
              SELECT vec_id,
                     list_transform(embedding,
                         x -> CAST(floor(x * {float(_IVF_GRID)} + 0.5)
                                   AS BIGINT)) AS qe
              FROM embeddings
            ), scored AS (
              SELECT q.vec_id, c.cell,
                     list_sum(list_transform(range(1, {EMB_DIM + 1}),
                         i -> qe[i] * qc[i])) AS s
              FROM q, cent c
            ), ranked AS (
              SELECT vec_id, cell,
                     row_number() OVER (PARTITION BY vec_id
                         ORDER BY s DESC, cell) AS rn
              FROM scored
            ), inv AS (
              SELECT vec_id AS sid, cell FROM ranked WHERE rn = 1
            ), probes AS (
              SELECT vec_id AS qid, cell FROM ranked
              WHERE rn <= {IVF_NPROBE}
            ), cand AS (
              SELECT DISTINCT p.qid, i.sid
              FROM probes p JOIN inv i USING (cell)
              WHERE p.qid <> i.sid
            ), subdot AS (
              SELECT q.vec_id, cb.j, cb.kk, cb.cc,
                     CAST(list_sum(list_transform(range(1, {PQ_DSUB + 1}),
                          i -> qe[cb.j * {PQ_DSUB} + i] * cvec[i]))
                          AS BIGINT) AS d
              FROM q, cb
            ), codes AS (
              SELECT vec_id, j, kk AS code FROM (
                SELECT vec_id, j, kk,
                       row_number() OVER (PARTITION BY vec_id, j
                           ORDER BY cc - 2 * d, kk) AS rn
                FROM subdot
              ) WHERE rn = 1
            ), adc AS (
              SELECT cand.qid AS query_id, cand.sid AS neighbor_id,
                     CAST(sum(sd.d) AS BIGINT) AS adc
              FROM cand
              JOIN codes sc ON sc.vec_id = cand.sid
              JOIN subdot sd ON sd.vec_id = cand.qid
                            AND sd.j = sc.j AND sd.kk = sc.code
              GROUP BY 1, 2
            )
            SELECT query_id, neighbor_id, adc, CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT query_id, neighbor_id, adc,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY adc DESC, neighbor_id) AS rank
              FROM adc
            )
            WHERE rank <= {IVF_K}
        """,
        # semantic_decontam: same shared centroid literal; the SQL
        # replays the md5 80/20 split (the bigram_lm idiom), corpus
        # argmax cells, eval top-nprobe probe cells, and the HUGEINT
        # threshold test, then counts hits per corpus vector
        "semantic_decontam": f"""
            WITH cent(cell, qc) AS (VALUES {_ivf_centroid_values()}),
            q AS (
              SELECT vec_id,
                     ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                         ::BIGINT % 5 AS sp,
                     list_transform(embedding,
                         x -> CAST(floor(x * {float(_IVF_GRID)} + 0.5)
                                   AS BIGINT)) AS qe
              FROM embeddings
            ), scored AS (
              SELECT q.vec_id, q.sp, c.cell,
                     list_sum(list_transform(range(1, {EMB_DIM + 1}),
                         i -> qe[i] * qc[i])) AS s
              FROM q, cent c
            ), ranked AS (
              SELECT vec_id, sp, cell,
                     row_number() OVER (PARTITION BY vec_id
                         ORDER BY s DESC, cell) AS rn
              FROM scored
            ), nn AS (
              SELECT vec_id,
                     CAST(list_sum(list_transform(qe, x -> x * x))
                          AS BIGINT) AS nsq
              FROM q
            ), corp AS (
              SELECT vec_id, CAST(cell AS BIGINT) AS cell
              FROM ranked WHERE sp < 4 AND rn = 1
            ), ev AS (
              SELECT vec_id, CAST(cell AS BIGINT) AS cell
              FROM ranked WHERE sp >= 4 AND rn <= {SEMDECON_NPROBE}
            ), pr AS (
              SELECT corp.vec_id AS cid,
                     CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                          i -> qa.qe[i] * qb.qe[i])) AS BIGINT) AS d,
                     nc.nsq AS cnsq, ne.nsq AS ensq
              FROM corp
              JOIN ev USING (cell)
              JOIN q qa ON qa.vec_id = corp.vec_id
              JOIN q qb ON qb.vec_id = ev.vec_id
              JOIN nn nc ON nc.vec_id = corp.vec_id
              JOIN nn ne ON ne.vec_id = ev.vec_id
            ), hit AS (
              SELECT cid AS vec_id, count(*)::BIGINT AS n_hits
              FROM pr
              WHERE d > 0
                AND 1000000::HUGEINT
                    * (CAST(d AS HUGEINT) * CAST(d AS HUGEINT))
                    >= {SEMDECON_THR_MILLI * SEMDECON_THR_MILLI}::HUGEINT
                       * (CAST(cnsq AS HUGEINT) * CAST(ensq AS HUGEINT))
              GROUP BY cid
            )
            SELECT corp.vec_id, corp.cell,
                   CAST(coalesce(hit.n_hits, 0) AS BIGINT) AS n_hits,
                   (hit.n_hits IS NULL) AS kept
            FROM corp LEFT JOIN hit USING (vec_id)
        """,
        # bitext_margin: shared centroid literal; the SQL replays both
        # directed cell-scoped kNNs (cos = double(d)/sqrt(nx·ny) over
        # BIGINTs — identical IEEE doubles), the rank-ordered
        # list_reduce background folds (left fold ≡ Spark aggregate),
        # the margin ratio, best-per-source and the mutual flag
        "bitext_margin": f"""
            WITH cent(cell, qc) AS (VALUES {_ivf_centroid_values()}),
            q AS (
              SELECT vec_id, label,
                     list_transform(embedding,
                         x -> CAST(floor(x * {float(_IVF_GRID)} + 0.5)
                                   AS BIGINT)) AS qe
              FROM embeddings
            ), nn AS (
              SELECT vec_id,
                     CAST(list_sum(list_transform(qe, x -> x * x))
                          AS BIGINT) AS nsq
              FROM q
            ), scored AS (
              SELECT q.vec_id, q.label, c.cell,
                     list_sum(list_transform(range(1, {EMB_DIM + 1}),
                         i -> qe[i] * qc[i])) AS s
              FROM q, cent c
            ), ranked AS (
              SELECT vec_id, label, cell,
                     row_number() OVER (PARTITION BY vec_id
                         ORDER BY s DESC, cell) AS rn
              FROM scored
            ), fpair AS (
              SELECT p.vec_id AS qid, i.vec_id AS nid,
                     CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                          i2 -> qa.qe[i2] * qb.qe[i2])) AS BIGINT) AS d,
                     na.nsq AS qn, nb.nsq AS nn_
              FROM (SELECT vec_id, cell FROM ranked
                    WHERE label < 5 AND rn <= {BITEXT_NPROBE}) p
              JOIN (SELECT vec_id, cell FROM ranked
                    WHERE label >= 5 AND rn = 1) i USING (cell)
              JOIN q qa ON qa.vec_id = p.vec_id
              JOIN q qb ON qb.vec_id = i.vec_id
              JOIN nn na ON na.vec_id = p.vec_id
              JOIN nn nb ON nb.vec_id = i.vec_id
            ), bpair AS (
              SELECT p.vec_id AS qid, i.vec_id AS nid,
                     CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                          i2 -> qa.qe[i2] * qb.qe[i2])) AS BIGINT) AS d,
                     na.nsq AS qn, nb.nsq AS nn_
              FROM (SELECT vec_id, cell FROM ranked
                    WHERE label >= 5 AND rn <= {BITEXT_NPROBE}) p
              JOIN (SELECT vec_id, cell FROM ranked
                    WHERE label < 5 AND rn = 1) i USING (cell)
              JOIN q qa ON qa.vec_id = p.vec_id
              JOIN q qb ON qb.vec_id = i.vec_id
              JOIN nn na ON na.vec_id = p.vec_id
              JOIN nn nb ON nb.vec_id = i.vec_id
            ), fknn AS (
              SELECT qid, nid, cos, rank FROM (
                SELECT qid, nid,
                       CASE WHEN qn > 0 AND nn_ > 0
                            THEN CAST(d AS DOUBLE)
                                 / sqrt(CAST(qn AS DOUBLE)
                                        * CAST(nn_ AS DOUBLE))
                            ELSE CAST('-inf' AS DOUBLE) END AS cos,
                       row_number() OVER (PARTITION BY qid
                           ORDER BY CASE WHEN qn > 0 AND nn_ > 0
                                THEN CAST(d AS DOUBLE)
                                     / sqrt(CAST(qn AS DOUBLE)
                                            * CAST(nn_ AS DOUBLE))
                                ELSE CAST('-inf' AS DOUBLE) END DESC,
                               nid) AS rank
                FROM fpair
              ) WHERE rank <= {BITEXT_K}
            ), bknn AS (
              SELECT qid, nid, cos, rank FROM (
                SELECT qid, nid,
                       CASE WHEN qn > 0 AND nn_ > 0
                            THEN CAST(d AS DOUBLE)
                                 / sqrt(CAST(qn AS DOUBLE)
                                        * CAST(nn_ AS DOUBLE))
                            ELSE CAST('-inf' AS DOUBLE) END AS cos,
                       row_number() OVER (PARTITION BY qid
                           ORDER BY CASE WHEN qn > 0 AND nn_ > 0
                                THEN CAST(d AS DOUBLE)
                                     / sqrt(CAST(qn AS DOUBLE)
                                            * CAST(nn_ AS DOUBLE))
                                ELSE CAST('-inf' AS DOUBLE) END DESC,
                               nid) AS rank
                FROM bpair
              ) WHERE rank <= {BITEXT_K}
            ), bx AS (
              SELECT qid,
                     list_reduce(list(cos ORDER BY rank), (a, b) -> a + b)
                         / (2.0 * count(*)) AS bg
              FROM fknn GROUP BY qid
            ), by_ AS (
              SELECT qid,
                     list_reduce(list(cos ORDER BY rank), (a, b) -> a + b)
                         / (2.0 * count(*)) AS bg
              FROM bknn GROUP BY qid
            ), fbest AS (
              SELECT src_id, tgt_id, margin FROM (
                SELECT f.qid AS src_id, f.nid AS tgt_id,
                       f.cos / (bx.bg + by_.bg) AS margin,
                       row_number() OVER (PARTITION BY f.qid
                           ORDER BY f.cos / (bx.bg + by_.bg) DESC,
                                    f.nid) AS rn
                FROM fknn f
                JOIN bx ON bx.qid = f.qid
                JOIN by_ ON by_.qid = f.nid
              ) WHERE rn = 1
            ), bbest AS (
              SELECT src_id, tgt_id FROM (
                SELECT b.nid AS src_id, b.qid AS tgt_id,
                       row_number() OVER (PARTITION BY b.qid
                           ORDER BY b.cos / (by_.bg + bx.bg) DESC,
                                    b.nid) AS rn
                FROM bknn b
                JOIN by_ ON by_.qid = b.qid
                JOIN bx ON bx.qid = b.nid
              ) WHERE rn = 1
            )
            SELECT f.src_id, f.tgt_id,
                   CAST(floor(f.margin * 1e6) AS BIGINT) AS margin_e6,
                   (bb.src_id IS NOT NULL) AS mutual
            FROM fbest f
            LEFT JOIN bbest bb
              ON bb.src_id = f.src_id AND bb.tgt_id = f.tgt_id
        """,
        # bpe_pairs: word histogram → pair explosion over DISTINCT
        # words weighted by corpus frequency → exact BIGINT counts →
        # bounded top-k; "left"/"right" quoted (reserved words).
        # [A-Za-z]+ extracted from RAW text, lowercased AFTER: ASCII
        # words lowercase identically in every engine, while
        # lower-then-extract would route full-Unicode case mapping
        # through each engine's own tables (Java 'İ'→'i̇' vs DuckDB
        # 'İ'→'i' — the detect_format_col divergence class)
        "bpe_pairs": f"""
            WITH words AS (
              SELECT lower(unnest(regexp_extract_all(coalesce(text, ''),
                            '[A-Za-z]+'))) AS word
              FROM documents
            ), hist AS (
              SELECT word, count(*)::BIGINT AS wc FROM words GROUP BY word
            ), syms AS (
              SELECT wc, len(word) AS n,
                     list_append(list_transform(range(1, len(word) + 1),
                         i -> substr(word, CAST(i AS INT), 1)), '</w>') AS s
              FROM hist
            ), pairs AS (
              SELECT wc, unnest(list_transform(range(1, n + 1),
                     i -> struct_pack(l := s[i], r := s[i + 1]))) AS p
              FROM syms
            ), counts AS (
              SELECT (p).l AS "left", (p).r AS "right",
                     CAST(sum(wc) AS BIGINT) AS pair_count
              FROM pairs GROUP BY 1, 2
            )
            SELECT "left", "right", pair_count,
                   CAST(row_number() OVER (
                        ORDER BY pair_count DESC, "left", "right")
                        AS BIGINT) AS rank
            FROM counts
            ORDER BY pair_count DESC, "left", "right"
            LIMIT {BPE_TOP_K}
        """,
    }
    # dsir_select = top-50 of dsir_weights under the total order
    # (log_weight DESC, doc_id) — weights are BIGINT-exact, so the
    # ranking cut is engine-reproducible; reuse the weights oracle
    sql["dsir_select"] = (
        "SELECT doc_id, n_grams, log_weight FROM ("
        + sql["dsir_weights"]
        + ") ORDER BY log_weight DESC, doc_id LIMIT 50"
    )
    sql["bm25_topk"] = _bm25_oracle()
    sql["layout_order"] = _layout_oracle()
    sql["dom_tokens"] = _dom_tokens_oracle()
    # stupid-backoff bigram LM: the md5 80% train split, row-local pair
    # build, count tables, and the backoff CASE replayed relationally;
    # FP association matches the query exactly ((0.4 * x) / y), mean
    # rounded to 6 decimals (the unigram_logprob discipline)
    sql["bigram_lm"] = r"""
        WITH tk AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(coalesce(text,
                             ''))), '\s+'), x -> x <> '') AS t
          FROM documents
        ), tr AS (
          SELECT t FROM tk
          WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                % 5 < 4
        ), uni AS (
          SELECT w, count(*)::BIGINT AS c_uni
          FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w
        ), big AS (
          SELECT (p).w1 AS w1, (p).w2 AS w2, count(*)::BIGINT AS c_big
          FROM (SELECT unnest(list_transform(range(1, len(t)),
                       i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
                FROM tr WHERE len(t) >= 2)
          GROUP BY 1, 2
        ), tot AS (
          SELECT (SELECT count(*) FROM (SELECT unnest(t) FROM tr))
                     AS n_tokens,
                 (SELECT count(*) FROM uni) AS n_vocab
        ), pr AS (
          SELECT doc_id, (p).w1 AS w1, (p).w2 AS w2
          FROM (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                       i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
                FROM tk WHERE len(t) >= 2)
        ), sc AS (
          SELECT pr.doc_id,
                 CASE WHEN b.c_big IS NOT NULL
                      THEN b.c_big / u1.c_uni
                      ELSE 0.4::DOUBLE * (coalesce(u2.c_uni, 0) + 1)
                           / (tot.n_tokens + tot.n_vocab + 1) END AS s,
                 CASE WHEN b.c_big IS NULL THEN 1 ELSE 0 END AS bo
          FROM pr
          LEFT JOIN big b ON b.w1 = pr.w1 AND b.w2 = pr.w2
          LEFT JOIN uni u1 ON u1.w = pr.w1
          LEFT JOIN uni u2 ON u2.w = pr.w2
          CROSS JOIN tot
        ), ag AS (
          SELECT doc_id, count(*) AS n_bigrams,
                 CAST(sum(bo) AS BIGINT) AS n_backoff,
                 round(avg(-log2(s)), 6) AS avg_neg_log2s
          FROM sc GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(a.n_bigrams, 0) AS n_bigrams,
               coalesce(a.n_backoff, 0) AS n_backoff,
               coalesce(a.avg_neg_log2s, 0.0) AS avg_neg_log2s
        FROM documents d LEFT JOIN ag a USING (doc_id)
    """
    sql["bloom_filter"] = _bloom_oracle()
    sql["domain_profile"] = _domain_profile_oracle()
    # sliding token-window chunking (SURVEY §2.27): the operator's
    # start-grid + coverage-extension rule replayed verbatim
    # (size=32, stride=24; kept starts are always a PREFIX of the grid
    # because the extension predicate is monotone in start, so
    # chunk_idx = start/stride on both engines)
    sql["chunk_tokens"] = r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\s+'),
                               t -> t <> '') AS tk
            FROM documents WHERE text IS NOT NULL
        ),
        nn AS (
            SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0
        )
        SELECT doc_id,
               CAST(i // 24 AS BIGINT) AS chunk_idx,
               CAST(i AS BIGINT) AS start_tok,
               CAST(least(32, n - i) AS BIGINT) AS n_tokens,
               array_to_string(tk[i + 1 : i + 32], ' ') AS chunk_text
        FROM nn, unnest(generate_series(0, n - 1, 24)) AS g(i)
        WHERE i < n AND (i = 0 OR n - i > 32 - 24)
    """
    # eventmedia_battery = tagged union of the sessionization + media
    # oracles VERBATIM; session start formatted (w_window_agg
    # convention) so no raw TIMESTAMP reaches the gate hash
    sql["eventmedia_battery"] = (
        "SELECT 'session' AS branch, CAST(user_id AS VARCHAR) AS k1,"
        " strftime(session_start, '%Y-%m-%d %H:%M:%S') AS c1, '' AS c2,"
        " n_events::BIGINT AS l1 FROM ("
        + sql["session_window"]
        + ") UNION ALL SELECT 'media' AS branch,"
        " CAST(media_id AS VARCHAR) AS k1, kind AS c1, hex_sha256 AS c2,"
        " n_bytes::BIGINT AS l1 FROM ("
        + sql["media_features"]
        + ")"
    )
    # per-doc TF-IDF keywords: tokenization, tf/df counts, the
    # micro-quantized idf, and the bounded per-doc ranking replayed
    # relationally (ties broken on the term — a total order because
    # terms are unique within a document's tf relation)
    sql["tfidf_keywords"] = r"""
        WITH tk AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(lower(
                        coalesce(text, ''))), '\s+'), x -> x <> '')) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*)::BIGINT AS tf
          FROM tk GROUP BY 1, 2
        ), dfreq AS (
          SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
        ), n AS (
          SELECT count(*)::BIGINT AS n_docs FROM documents
        ), sc AS (
          SELECT tf.doc_id, tf.term, tf.tf,
                 tf.tf * CAST(round(ln((n.n_docs + 1) / (d.df + 1))
                                    * 1000000.0) AS BIGINT) AS score_micro
          FROM tf JOIN dfreq d USING (term) CROSS JOIN n
        ), rk AS (
          SELECT doc_id, term, tf, score_micro,
                 CAST(row_number() OVER (PARTITION BY doc_id
                      ORDER BY score_micro DESC, term) AS BIGINT) AS rank
          FROM sc
        )
        SELECT doc_id, term, tf, score_micro, rank
        FROM rk WHERE rank <= __TFIDF_K__
    """.replace("__TFIDF_K__", str(TFIDF_K))
    # cross-source shingle overlap: decoration, tokenization, 3-gram
    # shingles (short docs contribute their whole token string), the
    # max_sources stop cap, the a<b pair join, and the exact-integer
    # micro Jaccard replayed relationally
    sql["source_overlap"] = rf"""
        WITH d AS (
          SELECT source,
                 text
                 || CASE WHEN doc_id % {SOVERLAP_UBIQ_MOD} = 0
                         THEN ' ubiquitous shared phrase everywhere'
                         ELSE '' END
                 || CASE WHEN doc_id % {SOVERLAP_LEAK_MOD} = 0
                         THEN ' rare leak signature phrase'
                         ELSE '' END AS text
          FROM documents
        ), tk AS (
          SELECT source,
                 list_filter(string_split_regex(trim(lower(coalesce(text,
                             ''))), '\s+'), x -> x <> '') AS t
          FROM d WHERE source IS NOT NULL
        ), sh0 AS (
          SELECT source AS g,
                 unnest(list_transform(range(0, len(t) - 2),
                        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
          FROM tk WHERE len(t) >= 3
          UNION ALL
          SELECT source AS g, array_to_string(t, ' ') AS s
          FROM tk WHERE len(t) < 3
        ), sh AS (
          SELECT DISTINCT g, s FROM sh0 WHERE s <> ''
        ), cnt AS (
          SELECT s, count(*)::BIGINT AS k FROM sh GROUP BY s
        ), kept AS (
          SELECT sh.g, sh.s FROM sh JOIN cnt USING (s)
          WHERE cnt.k <= {SOVERLAP_MAX_SOURCES}
        ), per AS (
          -- POST-cap totals: consistent numerator/denominator filtering
          SELECT g, count(*)::BIGINT AS n FROM kept GROUP BY g
        ), shared AS (
          SELECT x.g AS source_a, y.g AS source_b,
                 count(*)::BIGINT AS shared_shingles
          FROM kept x JOIN kept y ON x.s = y.s AND x.g < y.g
          GROUP BY 1, 2
        )
        SELECT source_a, source_b, shared_shingles,
               pa.n AS n_a, pb.n AS n_b,
               CAST(shared_shingles * 1000000
                    // (pa.n + pb.n - shared_shingles) AS BIGINT)
                   AS jaccard_micro
        FROM shared
        JOIN per pa ON pa.g = source_a
        JOIN per pb ON pb.g = source_b
    """
    # A-ES weighted sample: the md5-uniform draw, the nano-quantized
    # ln(u)/w key (FP association matches the query: (ln(u)/w)·1e9,
    # u = CAST(h+1 AS DOUBLE)/2^60), and the top-n cut replayed
    sql["weighted_sample"] = r"""
        WITH base AS (
          SELECT doc_id, CAST(n_chars % 97 + 1 AS DOUBLE) AS w
          FROM documents
        ), keyed AS (
          SELECT doc_id, w,
                 CAST(round(ln(CAST(('0x' || substr(md5(CAST(doc_id AS
                                VARCHAR)), 1, 15))::BIGINT + 1 AS DOUBLE)
                               / CAST(1152921504606846976 AS DOUBLE))
                            / w * 1000000000.0) AS BIGINT) AS key_nano
          FROM base WHERE w IS NOT NULL AND w > 0
        ), rk AS (
          SELECT doc_id, CAST(w AS BIGINT) AS weight, key_nano,
                 CAST(row_number() OVER (ORDER BY key_nano DESC, doc_id)
                      AS BIGINT) AS rank
          FROM keyed
        )
        SELECT doc_id, weight, key_nano, rank
        FROM rk WHERE rank <= __WSAMPLE_N__
    """.replace("__WSAMPLE_N__", str(WSAMPLE_N))
    # template families: the conversation fan-out, first-turn arg-min,
    # and the CCNet normalization ladder replayed with the operator
    # module's own constants (the norm_dedup discipline)
    from docling_translate_spark.operators.text_analysis import (
        ACCENT_DST,
        ACCENT_SRC,
        NORM_PUNCT_RE,
    )

    _tmpl_punct = NORM_PUNCT_RE.replace("'", "''")
    sql["template_families"] = rf"""
        WITH t AS (
          SELECT 'c' || CAST(doc_id % 97 AS VARCHAR) AS conv_id,
                 CAST(doc_id // 97 AS INTEGER) AS turn_idx,
                 CASE WHEN doc_id // 97 = 0 AND (doc_id % 97) % 3 = 0
                      THEN 'You are agent #' || CAST(doc_id % 97 AS VARCHAR)
                           || '! Be concise; be helpful.'
                      ELSE text END AS text
          FROM documents
        ), slim AS (
          SELECT conv_id, turn_idx,
                 substr(coalesce(text, ''), 1, __TMPL_PREFIX__) AS p
          FROM t WHERE turn_idx IS NOT NULL
        ), first AS (
          SELECT conv_id, arg_min(p, turn_idx) AS p0
          FROM slim GROUP BY conv_id
        ), normed AS (
          SELECT conv_id,
                 trim(regexp_replace(regexp_replace(regexp_replace(
                     translate(lower(p0), '{ACCENT_SRC}', '{ACCENT_DST}'),
                     '[0-9]', '0', 'g'),
                     '{_tmpl_punct}', '', 'g'),
                     '\s+', ' ', 'g')) AS norm
          FROM first
        )
        SELECT md5(norm) AS template_fp, count(*) AS n_convs,
               min(conv_id) AS rep_conv_id, min(norm) AS sample_prefix
        FROM normed GROUP BY 1 HAVING count(*) >= __TMPL_MIN_FAMILY__
    """.replace("__TMPL_PREFIX__", str(TMPL_PREFIX)).replace(
        "__TMPL_MIN_FAMILY__", str(TMPL_MIN_FAMILY)
    )
    # smoothed-unigram KL drift: decoration, counts, the nano-quantized
    # contribution (FP association matches the query exactly:
    # ((pa * ln(pa/pb)) * 1e9)), KL total, and the top-k rank replayed
    # relationally
    sql["vocab_divergence"] = r"""
        WITH da AS (
          SELECT text || ' drift' || CAST(doc_id % 7 AS VARCHAR) AS text
          FROM documents WHERE doc_id % 2 = 0
        ), db AS (
          SELECT text FROM documents WHERE doc_id % 2 = 1
        ), ta AS (
          SELECT unnest(list_filter(string_split_regex(trim(lower(
                 coalesce(text, ''))), '\s+'), x -> x <> '')) AS term
          FROM da
        ), tb AS (
          SELECT unnest(list_filter(string_split_regex(trim(lower(
                 coalesce(text, ''))), '\s+'), x -> x <> '')) AS term
          FROM db
        ), ca AS (
          SELECT term, count(*)::BIGINT AS c_a FROM ta GROUP BY 1
        ), cb AS (
          SELECT term, count(*)::BIGINT AS c_b FROM tb GROUP BY 1
        ), m AS (
          SELECT term, coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
          FROM ca FULL OUTER JOIN cb USING (term)
        ), t AS (
          SELECT CAST(coalesce(sum(c_a), 0) AS BIGINT) AS na,
                 CAST(coalesce(sum(c_b), 0) AS BIGINT) AS nb,
                 count(*)::BIGINT AS v
          FROM m
        ), sc AS (
          SELECT term, c_a, c_b,
                 CAST(round((c_a + 1) / (t.na + t.v)
                      * ln(((c_a + 1) / (t.na + t.v))
                           / ((c_b + 1) / (t.nb + t.v)))
                      * 1000000000.0) AS BIGINT) AS contrib_nano
          FROM m CROSS JOIN t
        ), kl AS (
          SELECT CAST(coalesce(sum(contrib_nano), 0) AS BIGINT)
                     AS kl_total_nano
          FROM sc
        ), rk AS (
          SELECT term, c_a, c_b, contrib_nano,
                 CAST(row_number() OVER (ORDER BY contrib_nano DESC, term)
                      AS BIGINT) AS rank
          FROM sc
        )
        SELECT term, c_a, c_b, contrib_nano, kl.kl_total_nano, rank
        FROM rk CROSS JOIN kl WHERE rank <= __VDIV_K__
    """.replace("__VDIV_K__", str(VDIV_K))

    for name in MEMBER_BATTERIES:
        sql[name] = _battery_sql(sql, name)
    # member SQL feeds the batteries above; only registered keys leave
    return {name: sql[name] for name in queries()}
