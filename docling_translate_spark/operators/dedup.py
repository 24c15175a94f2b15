"""Deduplication operators for a large-scale training-data pipeline.

The reference's dedup is the exact ``list(set(sentences))``
(reference ``src/core.py:453-455``). At 100 TB a pipeline also needs
near-duplicate detection; this module provides the standard ladder:

* exact dedup            — hash groupBy (one shuffle, map-side combine)
* n-gram Jaccard         — shingle inverted-index join (exact near-dup
                           baseline; quadratic in bucket size)
* MinHash + LSH          — signature bands → bucket join → verify
                           (the 100 TB scale path: candidate generation
                           is linear in data + bucket-local joins)
* SimHash                — 64-bit fingerprint, banded for hamming-≤k
                           candidate pairs

All signature computation is numpy-vectorized inside Arrow batches; all
candidate generation is joins on small keys so AQE can split skewed
buckets (a hot shingle/bucket is the classic skew case — capped via
``max_bucket`` salting guard).

Caching note: operators that consume an intermediate twice
(``ngram_jaccard_pairs``'s shingle index, ``minhash_lsh_pairs``'s
signatures) ``.cache()`` it; the cache stays materialized for the
session's lifetime because the returned DataFrame is lazy. Long-lived
drivers should ``spark.catalog.clearCache()`` between invocations.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

# --- exact dedup (A1 at scale) ---


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts; keep the min-id representative + multiplicity.

    groupBy on md5(text) keeps shuffle rows narrow (the full text never
    shuffles twice); map-side partial aggregation collapses duplicates
    before the exchange.
    """
    return (
        df.select(id_col, text_col)
        .groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count("*").alias("n_dups"),
        )
    )


class IngestIndex(NamedTuple):
    """The committed seen-side state of :func:`dedup_incremental` — the
    operator's own stage aggregates, persisted so an ingest never
    re-scans the snapshot corpus:

    * ``hashes``   — (text_hash)            exact-dup fingerprints
    * ``shingles`` — (sid, shingle)         inverted n-gram index
    * ``freq``     — (shingle, df_)         document frequencies
    * ``sizes``    — (sid, rsz)             per-doc informative set size
                     under the snapshot-only stop cap (docs whose every
                     shingle is capped carry no row)
    * ``n``, ``max_bucket`` — the shingle order and stop cap the tables
      were built under; :func:`dedup_incremental` reads both from here,
      so a probe cannot mix stop-cap semantics

    At cluster scale ``shingles``/``freq`` are stored bucketed by
    ``shingle`` so the batch-side probes co-locate, and ``hashes`` by
    ``text_hash``; here they are plain DataFrames/parquet.
    """

    hashes: DataFrame
    shingles: DataFrame
    freq: DataFrame
    sizes: DataFrame
    n: int
    max_bucket: int


def build_ingest_index(
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_bucket: int = 1000,
) -> IngestIndex:
    """Build the committed ingest index from a raw snapshot — the
    bootstrap (or audit-rebuild) path; steady state maintains it with
    :func:`updated_ingest_index` instead. Every piece is the exact
    seen-side aggregate of the three :func:`dedup_incremental` stages."""
    hashes = seen.select(F.md5(F.col(text_col)).alias("text_hash"))
    sh = shingle_df(seen, text_col, id_col, n)
    shingles = sh.select("sid", "shingle")
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    ok = freq.filter(F.col("df_") <= max_bucket).select("shingle")
    sizes = (
        sh.join(ok, "shingle").groupBy("sid").agg(F.count("*").alias("rsz"))
    )
    return IngestIndex(hashes, shingles, freq, sizes, n, max_bucket)


def updated_ingest_index(
    index: IngestIndex,
    admitted: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> IngestIndex:
    """The commit recipe: fold an admitted ingest batch into the index,
    producing exactly ``build_ingest_index(seen ∪ admitted)`` without
    touching the snapshot corpus (equality pytest-pinned).

    Only batch-scale relations aggregate; the corpus-sized tables are
    touched by append (``shingles``, ``hashes``), by an outer-sum merge
    on the batch's keys (``freq``), and by a slim adjustment join
    (``sizes``): a committed doc's informative size can only shrink, and
    only on shingles the batch itself pushed over the stop cap — a set
    bounded by the batch's own vocabulary."""
    adm_sh = shingle_df(admitted, text_col, id_col, index.n)
    adm_freq = adm_sh.groupBy("shingle").agg(F.count("*").alias("adf"))
    # combined df for the batch's shingles only (everything else is
    # untouched by this commit)
    jf = (
        adm_freq.join(index.freq, "shingle", "left")
        .select(
            "shingle",
            "adf",
            F.coalesce("df_", F.lit(0)).alias("sdf"),
        )
        .withColumn("tdf", F.col("adf") + F.col("sdf"))
        .cache()  # feeds the merged freq, the new-doc cap and the flip set
    )
    freq_new = index.freq.join(adm_freq, "shingle", "left_anti").unionByName(
        jf.select("shingle", F.col("tdf").alias("df_"))
    )
    ok_new = jf.filter(F.col("tdf") <= index.max_bucket).select("shingle")
    adm_sizes = (
        adm_sh.join(ok_new, "shingle")
        .groupBy("sid")
        .agg(F.count("*").alias("rsz"))
    )
    flipped = jf.filter(
        (F.col("sdf") <= index.max_bucket) & (F.col("tdf") > index.max_bucket)
    ).select("shingle")
    flip_counts = (
        index.shingles.join(flipped, "shingle")
        .groupBy("sid")
        .agg(F.count("*").alias("nflip"))
    )
    old_sizes = (
        index.sizes.join(flip_counts, "sid", "left")
        .select(
            "sid",
            (F.col("rsz") - F.coalesce("nflip", F.lit(0))).alias("rsz"),
        )
        .filter(F.col("rsz") > 0)
    )
    return IngestIndex(
        index.hashes.unionByName(
            admitted.select(F.md5(F.col(text_col)).alias("text_hash"))
        ),
        index.shingles.unionByName(adm_sh.select("sid", "shingle")),
        freq_new,
        old_sizes.unionByName(adm_sizes),
        index.n,
        index.max_bucket,
    )


def _ingest_index_version(spark, path: str) -> int | None:
    """Current committed version under ``path``, or None if no
    ``latest`` marker is readable there."""
    try:
        return int(spark.read.parquet(f"{path}/latest").collect()[0]["v"])
    except Exception:
        return None


def _existing_snapshot_versions(spark, path: str) -> list[int]:
    """Every ``v{K}`` snapshot directory present under ``path`` —
    committed or not. Listed through the Hadoop FileSystem API so the
    scan works against whatever store the path lives on, same as the
    table reads."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            out.append(int(name[1:]))
    return out


def save_ingest_index(index: IngestIndex, path: str) -> None:
    """Commit the index tables as parquet under ``path`` (the sandbox
    stand-in for bucketed Iceberg tables; one commit per ingest).

    Commits are VERSIONED: each save writes a fresh ``{path}/v{K}``
    snapshot directory and only then repoints the ``{path}/latest``
    marker. This is not bookkeeping garnish — the steady-state flow is
    ``load → updated_ingest_index → save`` against the SAME path, and
    the updated tables' lineage lazily reads the loaded snapshot, so an
    in-place ``overwrite`` of ``{path}/hashes`` would be Spark's
    cannot-overwrite-a-path-being-read-from error (or, worse, a lost
    table). Writing the new snapshot beside the old one keeps the read
    lineage valid while it executes, and the marker flip after all four
    table writes gives crash consistency: a failure mid-commit leaves
    ``latest`` pointing at the previous complete snapshot. Single
    committer per index path, like any snapshot table.

    The next version comes from max(marker, existing v* dirs) + 1, not
    the marker alone: if the marker is missing or unreadable (a crash
    during its own non-atomic overwrite, a transient read error) while
    snapshots exist, trusting the marker would restart at v0 and
    OVERWRITE the oldest snapshot — the directory scan makes a fresh
    version regardless, and a possibly-partial crashed snapshot dir is
    skipped rather than reused."""
    spark = index.hashes.sparkSession
    cur = _ingest_index_version(spark, path)
    existing = _existing_snapshot_versions(spark, path)
    nxt = max([cur if cur is not None else -1, *existing]) + 1
    vdir = f"{path}/v{nxt}"
    index.hashes.write.mode("overwrite").parquet(f"{vdir}/hashes")
    index.shingles.write.mode("overwrite").parquet(f"{vdir}/shingles")
    index.freq.write.mode("overwrite").parquet(f"{vdir}/freq")
    index.sizes.write.mode("overwrite").parquet(f"{vdir}/sizes")
    meta = spark.createDataFrame(
        [(index.n, index.max_bucket)], "n int, max_bucket int"
    )
    meta.write.mode("overwrite").parquet(f"{vdir}/meta")
    spark.createDataFrame([(nxt,)], "v int").write.mode("overwrite").parquet(
        f"{path}/latest"
    )


def load_ingest_index(spark, path: str) -> IngestIndex:
    v = _ingest_index_version(spark, path)
    if v is None:
        if _existing_snapshot_versions(spark, path):
            # versioned snapshots exist but the marker is unreadable — a
            # transient store error or a crash during the marker's own
            # overwrite: fail loudly rather than guess a snapshot
            raise RuntimeError(
                f"ingest index at {path} has v* snapshots but no readable "
                f"latest marker — repair {path}/latest (a 1-row parquet "
                "with column v) to the newest COMPLETE snapshot"
            )
        raise FileNotFoundError(f"no ingest index committed at {path}")
    root = f"{path}/v{v}"
    meta = spark.read.parquet(f"{root}/meta").collect()[0]
    return IngestIndex(
        spark.read.parquet(f"{root}/hashes"),
        spark.read.parquet(f"{root}/shingles"),
        spark.read.parquet(f"{root}/freq"),
        spark.read.parquet(f"{root}/sizes"),
        int(meta["n"]),
        int(meta["max_bucket"]),
    )


def dedup_incremental(
    batch: DataFrame,
    index: IngestIndex,
    text_col: str = "text",
    id_col: str = "doc_id",
    near_dup: bool = True,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental ingest dedup: admit only the rows of ``batch`` that
    are new relative to a committed corpus snapshot — the step a
    continuously-crawled training corpus runs on every ingest (each
    crawl re-fetches most of the web; admitting blindly and re-running
    corpus-wide dedup from scratch is the 10^12-turn anti-pattern this
    operator exists to avoid). The snapshot arrives as its
    :class:`IngestIndex` (built once with :func:`build_ingest_index`,
    maintained per commit with :func:`updated_ingest_index`), so no
    ingest re-scans the snapshot corpus; the shingle order and stop cap
    are the index's own ``n`` and ``max_bucket``. Composes with
    ``sources/checkpoint.py``: the admitted rows are what the next
    snapshot appends.

    Three stages, each a join/agg shape that survives scale:

    1. WITHIN-BATCH exact: one doc per md5 fingerprint survives (min
       ``id_col``) via the arg-min ``groupBy + semi-join`` pattern —
       map-side combine collapses a viral duplicate per task, never a
       hot-key window (see ``dedup_segments``).
    2. EXACT vs snapshot: a left-anti equi-join of batch fingerprints
       against the committed ``hashes``. The snapshot side is a single
       slim hash column; an anti-join never fans out, so no
       ``distinct`` pass over the corpus is needed.
    3. NEAR-DUP vs snapshot (optional): cross-corpus n-gram Jaccard via
       the same inverted shingle index as ``ngram_jaccard_pairs``, with
       the stop-shingle cap computed over the COMBINED document
       frequency (batch ∪ snapshot) so both sides drop the same hot
       shingles and identical docs still score 1.0. A batch doc with
       Jaccard ≥ ``threshold`` against ANY snapshot doc is rejected —
       no tie-break needed, so the result is deterministic at any
       parallelism. Only batch-scale relations aggregate: combined
       document frequencies probe the committed ``freq`` on the batch's
       shingles alone, candidate pairs probe the committed inverted
       ``shingles`` index, and seen-side informative sizes come from
       the committed ``sizes`` minus a flip-adjustment join (a snapshot
       shingle can only leave the informative set when THIS batch
       pushes it over the stop cap, so the adjustment set is bounded by
       the batch vocabulary). Admission equals a from-scratch recompute
       over the raw snapshot (pytest-pinned).

    Preconditions: ``id_col`` unique within ``batch``, and ``batch``
    must not carry a column named ``_fp`` (reserved; a ValueError is
    raised rather than silently clobbering it). Rows with NULL
    ``text_col`` are never admitted: md5(NULL) is NULL and stage 1's
    fingerprint semi-join uses standard equality, which never matches a
    NULL key — identically in any SQL engine (an ingest gate dropping
    textless rows is the desired behavior anyway). Returns the admitted
    ``batch`` rows with their original columns.
    """
    if "_fp" in batch.columns:
        raise ValueError(
            "batch must not carry the reserved temp column '_fp' "
            "(rename it before calling dedup_incremental)"
        )
    b = batch.withColumn("_fp", F.md5(F.col(text_col)))

    # stage 1: within-batch exact (arg-min groupBy, NOT a window)
    winners = b.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    b = b.join(winners, ["_fp", id_col], "left_semi")

    # stage 2: exact vs snapshot (slim hash column, anti-join)
    seen_fp = index.hashes.select(F.col("text_hash").alias("_fp"))
    b = b.join(seen_fp, "_fp", "left_anti")

    if near_dup:
        # stage 3: nothing snapshot-sized aggregates. b feeds TWO
        # consumers (shingle build + final anti-join probe): persist, or
        # the upstream lineage runs once per consumer
        max_bucket = index.max_bucket
        b = b.persist()
        bs = shingle_df(b, text_col, id_col, index.n).cache()
        batch_freq = bs.groupBy("shingle").agg(F.count("*").alias("bdf"))
        # combined document frequency for the batch's shingles only —
        # a shingle absent from the batch can neither form a candidate
        # pair nor flip over the cap, so the corpus-sized freq table is
        # probed (join), never re-aggregated
        jf = (
            batch_freq.join(index.freq, "shingle", "left")
            .select(
                "shingle", "bdf", F.coalesce("df_", F.lit(0)).alias("sdf")
            )
            .withColumn("tdf", F.col("bdf") + F.col("sdf"))
            .cache()  # feeds the batch stop set AND the flip set
        )
        ok_b = jf.filter(F.col("tdf") <= max_bucket).select("shingle")
        rare_b, bsz = informative_shingles(bs, ok_b)
        # candidate pairs: probe the committed inverted index. No seen-
        # side stop filter is needed — the join key is already confined
        # to rare_b's combined-ok shingles.
        pairs = (
            rare_b.select(F.col("sid").alias("_bid"), "shingle")
            .join(
                index.shingles.select(F.col("sid").alias("_sid"), "shingle"),
                "shingle",
            )
            .groupBy("_bid", "_sid")
            .agg(F.count("*").alias("nc"))
        )
        # seen-side informative sizes under the COMBINED cap: committed
        # size minus the shingles THIS batch flipped over the cap (only
        # batch shingles can flip — sdf <= cap < sdf + bdf needs bdf > 0)
        flipped = jf.filter(
            (F.col("sdf") <= max_bucket) & (F.col("tdf") > max_bucket)
        ).select("shingle")
        flip_counts = (
            index.shingles.join(flipped, "shingle")
            .groupBy("sid")
            .agg(F.count("*").alias("nflip"))
        )
        ssz_df = index.sizes.join(flip_counts, "sid", "left").select(
            "sid",
            (F.col("rsz") - F.coalesce("nflip", F.lit(0))).alias("rsz"),
        )
        # no dropDuplicates on the flag set: left_anti is
        # duplicate-insensitive, so deduping here would only add an
        # exchange+aggregate for zero semantic effect
        flagged = (
            pairs.join(
                bsz.select(F.col("sid").alias("_bid"), F.col("rsz").alias("bsz")),
                "_bid",
            )
            .join(
                ssz_df.select(F.col("sid").alias("_sid"), F.col("rsz").alias("ssz")),
                "_sid",
            )
            .filter(
                F.col("nc") / (F.col("bsz") + F.col("ssz") - F.col("nc"))
                >= threshold
            )
            .select(F.col("_bid").alias(id_col))
        )
        b = b.join(flagged, id_col, "left_anti")

    return b.drop("_fp")


# --- word shingles (shared by jaccard + minhash) ---


def shingle_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document, as exploded rows.

    Pure column expressions (split → sequence → transform → explode) so
    the whole stage stays in codegen.
    """
    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(0)))
    shingles = F.when(
        F.size(tokens) >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(tokens, i + 1, n), " "))
        ),
    ).otherwise(F.array(F.array_join(tokens, " ")))
    # set_size rides along from the pre-explode array — measuring it here
    # costs nothing and spares Jaccard a per-doc sizes join downstream.
    # The array is materialized in its own projection so explode and size
    # share one evaluation (referencing the expression twice in a single
    # select rebuilds it twice).
    arr = df.select(F.col(id_col).alias("sid"), shingles.alias("_sharr"))
    return arr.select(
        "sid",
        F.explode("_sharr").alias("shingle"),
        F.size("_sharr").cast("long").alias("set_size"),
    )


def informative_shingles(
    sh: DataFrame, ok: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Apply a stop-shingle keep-set to an exploded shingle relation.

    Returns ``(rare, sizes)``: the surviving shingle rows (cached — they
    feed both the candidate-pair join and the size aggregate, and an
    unpersisted two-consumer relation re-executes its upstream per
    consumer) and the per-doc INFORMATIVE set size measured POST-filter.
    Consistent filtering on both numerator and denominator is what keeps
    identical docs at Jaccard 1.0 regardless of stop-shingle mass — the
    single definition shared by :func:`ngram_jaccard_pairs` and
    :func:`dedup_incremental` so the cap semantics cannot drift.
    """
    rare = sh.join(ok, "shingle").cache()
    sizes = rare.groupBy("sid").agg(F.count("*").alias("rsz"))
    return rare, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle index.

    Hot shingles (shared by more than ``max_bucket`` docs) are
    stop-shingles: they would create a quadratic candidate bucket (at
    1000 executors a single hot shingle would otherwise serialize the
    join), so they are dropped from BOTH the intersection and the union
    — Jaccard over the INFORMATIVE shingle sets. Dropping them from
    candidate generation only (while keeping full-set sizes in the
    denominator) deflates every pair that contains a hot shingle: two
    byte-identical docs sharing one stop-shingle out of five would score
    4/(5+5-4) = 0.667 and silently miss a 0.8 threshold. With consistent
    filtering, identical docs score 1.0 regardless of stop-shingle mass.
    """
    sh = shingle_df(df, text_col, id_col, n).cache()

    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    # per-doc INFORMATIVE set size (post-filter): a slim (sid, size)
    # aggregate with map-side combine, attached to the (few) surviving
    # pairs — never broadcast (a |docs|-row broadcast is a planner-forced
    # OOM at 10^9 docs), never riding the string shingle rows
    rare, rsz = informative_shingles(
        sh, freq.filter(F.col("df_") <= max_bucket).select("shingle")
    )

    a = rare.select(F.col("sid").alias("id_a"), "shingle")
    b = rare.select(F.col("sid").alias("id_b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pairs.join(rsz.select(F.col("sid").alias("id_a"), F.col("rsz").alias("size_a")), "id_a")
        .join(rsz.select(F.col("sid").alias("id_b"), F.col("rsz").alias("size_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    eval_id_col: str = "doc_id",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥
    ``min_hits`` distinct word ``n``-grams with ANY eval-set document
    (the GPT-3/PaLM-style n-gram overlap recipe; 13-grams is the classic
    setting, lower n is stricter).

    Scale shape: an inverted-index equi-join — identical to
    :func:`ngram_jaccard_pairs`'s index, but one side is the (small)
    eval set, so the join's build side is eval shingles and AQE
    broadcasts it when it fits. No all-pairs work, no collect; the
    training side stays a narrow shingle pass + one aggregation.

    The join/count key is a SLIM 128-bit shingle fingerprint (two
    independent ``xxhash64`` values, 16 bytes) instead of the n-gram
    string itself: an 8-word shingle averages ~50 bytes, so the exchange
    moves ~3× less data for identical results. 128 bits keeps the
    collision budget honest at the design point (~10^12 distinct
    shingles ⇒ ~n²/2^129 ≈ 10^-15 expected colliding pairs; a single
    64-bit hash would already collide at ~2^32). The fingerprint never
    reaches the output, so it needs no cross-engine portability — the
    SQL oracle joins the raw strings and must agree on every value.

    Returns one row per CONTAMINATED training doc: (id, n_hits =
    distinct shared n-grams, n_eval_docs = eval docs it overlaps).
    """
    fp = [
        F.xxhash64(F.col("shingle")).alias("_h1"),
        F.xxhash64(F.lit(7), F.col("shingle")).alias("_h2"),
    ]
    train = shingle_df(df, text_col, id_col, n).select(
        F.col("sid").alias("train_id"), *fp
    )
    ev = shingle_df(eval_df, eval_text_col, eval_id_col, n).select(
        F.col("sid").alias("eval_id"), *fp
    )
    return (
        train.join(ev, ["_h1", "_h2"])
        .groupBy("train_id")
        .agg(
            F.countDistinct("_h1", "_h2").alias("n_hits"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
        .filter(F.col("n_hits") >= min_hits)
    )


# --- MinHash + LSH ---

# smallest prime above 2^32: with 32-bit token hashes, a*h + b stays
# under 2^64 — exact in numpy uint64 AND in any SQL engine's 128-bit
# integer, so signatures are oracle-reproducible (the earlier 2^61-1
# scheme silently wrapped the int64 product, deterministic but
# engine-private)
_MINHASH_P = 4294967311


def _hash_params(k: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    # a < 2^32 by CONSTRUCTION, not by luck of the seed: P exceeds 2^32,
    # so a drawn from [1, P) could make a*h + b wrap uint64 in numpy
    # while the oracle's HUGEINT does not — silent signature divergence
    # for unlucky (seed, k) choices (r2 ADVICE). b may stay in [0, P).
    a = rng.randint(1, 1 << 32, size=k).astype(np.uint64)
    b = rng.randint(0, _MINHASH_P, size=k).astype(np.uint64)
    return a, b


def _md5_hash64(strings: list[str]) -> np.ndarray:
    """uint64 hash of each string: first 16 hex chars of md5.

    md5 is already avalanche-mixed AND portable — any SQL engine can
    reproduce it (``('0x' || substr(md5(t), 1, 16))::UBIGINT`` in
    DuckDB), which is what lets the SimHash / MinHash queries carry full
    value oracles instead of rows-only checks.

    ``int.from_bytes(digest()[:8])`` is bit-identical to
    ``int(hexdigest()[:16], 16)`` (big-endian first 8 bytes) and skips
    the hex round-trip — ~1.7x on the per-token hot path."""
    import hashlib

    md5 = hashlib.md5
    return np.fromiter(
        (int.from_bytes(md5(s.encode()).digest()[:8], "big") for s in strings),
        dtype=np.uint64,
        count=len(strings),
    )


def _token_hashes(texts, n: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """uint64 hash of every item of every text, docs concatenated, and
    each doc's item count. Items are the tokens ``str(text or "")
    .lower().split()`` or, with ``n``, their word n-gram shingles (a doc
    of fewer than n tokens has one: the joined tokens). Each distinct
    item of the batch is interned in a first-seen dict and hashed once
    (boilerplate-heavy corpora repeat shingles heavily across docs)."""
    uniq: dict[str, int] = {}
    index_of = uniq.setdefault
    join = " ".join
    occ: list[int] = []
    counts: list[int] = []
    for text in texts:
        toks = str(text or "").lower().split()
        if n is None:
            items = toks
        elif len(toks) >= n:
            items = [join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        else:
            items = [join(toks)]
        occ += [index_of(t, len(uniq)) for t in items]
        counts.append(len(items))
    hv = _md5_hash64(list(uniq))[np.asarray(occ, dtype=np.intp)]
    return hv, np.asarray(counts, dtype=np.int64)


# item budget of one doc run: both kernels' per-run matrix (k x items
# products, items x 64 bit rows) stays ~128 MB regardless of batch size
_RUN_BYTES = 128 << 20


def _doc_runs(counts: np.ndarray, budget: int):
    """Widest runs of whole docs whose items fit ``budget`` (a single
    over-budget doc goes alone): (doc slice, item slice, each doc's
    first item relative to the run)."""
    ends = np.cumsum(counts)
    starts = ends - counts
    d0 = 0
    while d0 < len(counts):
        d1 = max(int(np.searchsorted(ends, starts[d0] + budget, "right")), d0 + 1)
        lo = int(starts[d0])
        yield slice(d0, d1), slice(lo, int(ends[d1 - 1])), starts[d0:d1] - lo
        d0 = d1


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 128,
    seed: int = 7,
) -> DataFrame:
    """MinHash signature per document (numpy over Arrow batches).

    Narrow: one mapInArrow pass, no shuffle. Signature length 128 gives
    ±0.09 jaccard estimation error; band layout decides precision/recall.

    Kernel shape: ``_token_hashes`` hashes every shingle occurrence of
    the Arrow batch, then the k×|shingles| universal-hash outer product
    + per-doc min runs as one numpy expression with ``minimum.reduceat``
    over doc boundaries, one doc run at a time. Per-doc duplicate
    shingles are NOT pre-deduped — min() is multiplicity-blind, so
    signatures are bit-identical to the set-based definition the oracles
    reproduce.

    ``sid`` is the input id column as is (LONG doc ids and the curation
    pipeline's full-md5 STRING keys both work)."""
    a_params, b_params = _hash_params(num_hashes, seed)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"sid {id_type} not null, signature array<bigint> not null"
    budget = max(1, _RUN_BYTES // (num_hashes * 8))

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        mask32 = np.uint64(0xFFFFFFFF)
        p = np.uint64(_MINHASH_P)
        for rb in batches:
            if not rb.num_rows:
                continue
            hv, counts = _token_hashes(rb.column(1).to_numpy(zero_copy_only=False), n)
            hv &= mask32
            sigs = [
                np.minimum.reduceat(
                    (a_params[:, None] * hv[None, occ] + b_params[:, None]) % p,
                    rel,
                    axis=1,
                )
                for _, occ, rel in _doc_runs(counts, budget)
            ]
            flat = np.concatenate(sigs, axis=1).T.ravel().astype(np.int64)
            offsets = np.arange(0, len(flat) + 1, num_hashes, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pa.ListArray.from_arrays(offsets, flat)],
                names=["sid", "signature"],
            )

    return df.select(id_col, text_col).mapInArrow(gen, out_schema)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    seed: int = 7,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH + signature-estimate verify.

    32 bands × 4 rows ⇒ collision prob ~ s^4 per band: s=0.8 pairs are
    caught w.p. ≈ 1-(1-0.41)^32 ≈ 1. Bucket join is on (band, band_hash)
    — small keys, AQE-splittable.

    Scale shape: the candidate self-join moves SLIM (sid, band, bh)
    rows only — 16 B of key per exploded band row, never the
    ``num_hashes``-long signature array (which would be ~1 KB per band
    row per side: tens of TB of shuffle at 10^9 docs). Signatures
    attach to the deduped candidate pairs afterwards via two equi-joins
    (the ``cosine_near_dup_pairs`` pattern, similarity.py).

    ``max_bucket``: a band bucket shared by B docs emits B²/2 candidate
    rows — 10⁶ copies of one template would materialize ~10¹²·bands/2
    pairs. Pass a cap to drop oversized buckets from candidate
    generation (their members are near-identical and still pair through
    the exact-dedup stage + their other, finer bands). Default ``None``
    is all-pairs (exact banding semantics — what the value oracles
    model); in the curation pipeline exact dedup runs FIRST, so
    byte-identical template copies are already collapsed before LSH.

    ``bands`` must lie in [1, num_hashes]; each band takes
    ``num_hashes // bands`` rows, so an uneven layout leaves the tail unbanded.
    """
    if not 1 <= bands <= num_hashes:
        raise ValueError(f"bands must be in [1, {num_hashes}], got {bands}")
    rows = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes, seed).cache()

    # band key = 60-bit md5 prefix of the comma-joined band slice: same
    # collision semantics as any hash of the slice, but portable — a SQL
    # oracle reproduces it exactly (F.hash is Spark-private murmur)
    from docling_translate_spark.functions.hashing import md5_prefix60

    band_key = lambda sl: md5_prefix60(  # noqa: E731
        F.array_join(F.transform(sl, lambda v: v.cast("string")), ",")
    )
    banded = sig.select(
        "sid",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    band_key(F.slice("signature", bi * rows + 1, rows)).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select("sid", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    if max_bucket is not None:
        # bucket sizes on the slim (band, bh) keys — map-side combine
        # collapses a hot bucket before the exchange (ann_lsh pattern)
        sizes = banded.groupBy("band", "bh").agg(F.count("*").alias("_bsz"))
        banded = (
            banded.join(sizes, ["band", "bh"])
            .filter(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    a = banded.select(F.col("sid").alias("id_a"), "band", "bh")
    b = banded.select(F.col("sid").alias("id_b"), "band", "bh")
    pairs = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # signatures attach AFTER pair dedup, so the wide array rides only
    # on the (few) surviving candidates, never through the band exchange
    cands = pairs.join(
        sig.select(F.col("sid").alias("id_a"), F.col("signature").alias("sig_a")),
        "id_a",
    ).join(
        sig.select(F.col("sid").alias("id_b"), F.col("signature").alias("sig_b")),
        "id_b",
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(float(num_hashes))  # fraction of matching signature slots
    return (
        cands.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# --- SimHash ---


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document: per-token md5 bit majority vote.

    One mapInArrow pass. Bit b is set when more than half of the doc's
    tokens have it set (no tokens: 0). Each doc run's token hashes are
    unpacked into uint8 bit rows and summed per doc by one
    ``add.reduceat``. ``sid`` is the id column cast to LONG."""
    budget = _RUN_BYTES // 64

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                continue
            hv, counts = _token_hashes(rb.column(1).to_numpy(zero_copy_only=False))
            hv = hv.astype("<u8", copy=False)
            # empty docs hold no items, so they take no reduceat slot
            nz = np.flatnonzero(counts)
            votes = np.zeros((len(counts), 64), dtype=np.int64)
            for docs, occ, rel in _doc_runs(counts[nz], budget):
                # column b of a bit row is bit b of the hash
                bits = np.unpackbits(hv[occ].view(np.uint8), bitorder="little")
                votes[nz[docs]] = np.add.reduceat(
                    bits.reshape(-1, 64), rel, axis=0, dtype=np.int64
                )
            sh = np.packbits(2 * votes > counts[:, None], axis=1, bitorder="little")
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pa.array(sh.view("<i8").ravel())],
                names=["sid", "simhash"],
            )

    return df.select(F.col(id_col).cast("long"), text_col).mapInArrow(
        gen, "sid bigint not null, simhash bigint not null"
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ k via (k+1)-band blocking.

    Pigeonhole: distance ≤ k with k+1 disjoint bands covering all 64
    bits ⇒ at least one band is untouched and equal — candidates join on
    (band, chunk), verified by exact popcount. The band count DERIVES
    from ``max_hamming`` (a fixed 4-band split would silently lose
    recall for k > 3); the default k=3 gives the classic 4×16-bit
    layout.
    """
    n_bands = max_hamming + 1
    width = 64 // n_bands

    def _chunk(b: int) -> F.Column:
        shifted = F.shiftrightunsigned(F.col("simhash"), b * width)
        # last band takes the leftover high bits; a full-width mask
        # (k=0: one 64-bit band) is the identity and would overflow a
        # long literal
        bits = 64 - b * width if b == n_bands - 1 else width
        if bits >= 64:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << bits) - 1))

    sig = simhash_signatures(df, text_col, id_col)
    chunks = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _chunk(b).alias("chunk"))
            for b in range(n_bands)
        ]
    )
    banded = sig.select("sid", "simhash", F.explode(chunks).alias("c")).select(
        "sid", "simhash", F.col("c.band").alias("band"), F.col("c.chunk").alias("chunk")
    )
    a = banded.select(F.col("sid").alias("id_a"), F.col("simhash").alias("h_a"), "band", "chunk")
    b = banded.select(F.col("sid").alias("id_b"), F.col("simhash").alias("h_b"), "band", "chunk")
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- connected components over near-dup pair edges ---


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Component label per vertex appearing in ``pairs``: ``(id, comp)``
    with ``comp`` = the smallest id reachable over the pair edges.

    Near-dup relations are not transitive, but corpus dedup treats them
    as if they were (a chain A~B~C is one redundant cluster): keeping
    one doc per CONNECTED COMPONENT — not one per pair — is what MinHash
    dedup pipelines ship. Without it, dropping ``id_b`` of each pair
    keeps both endpoints of a path like (1,3),(2,3).

    Min-label propagation WITH pointer jumping: every vertex starts as
    its own label; each round every vertex takes (a) the min label among
    itself and its neighbors, then (b) the label OF that label (path
    halving). Neighbor-min alone needs diameter rounds — a sliding
    near-dup chain of templated/paginated boilerplate can exceed any
    fixed bound — while the jump step doubles the propagation horizon,
    giving O(log diameter) convergence; fixpoint when a round changes
    nothing, and the loop RAISES if ``max_iter`` is exhausted with
    changes pending (silent non-convergence would ship duplicate
    near-dup members and diverge from the exact recursive-CTE oracles).
    Each round moves slim ``(id, label)`` rows through two equi-joins +
    a min-aggregate — no payloads — and iteration state is
    ``localCheckpoint``-ed so the plan stays flat instead of nesting one
    join per round. The fixpoint is iteration-order independent, so
    results are deterministic at any cluster size / partitioning.

    Job-count discipline (this loop's cost at small scale is fixed
    per-job overhead, not data): the input pair selection is persisted
    and materialized ONCE before the two union branches read it — the
    upstream of ``pairs`` is typically a full LSH pair generation, and
    without the materialization each branch would recompute it. The
    convergence flag rides the label-update row itself (``_chg``), so
    checking it is a filter over the just-checkpointed partitions
    instead of an extra labels-to-labels join.
    """
    p = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).persist()
    p.count()  # materialize BEFORE the union reads p twice
    e = (
        p.union(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        e.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    p.unpersist()
    changed = 1
    for _ in range(max_iter):
        nbr_min = (
            e.join(labels.select(F.col("id").alias("dst"), "comp"), "dst")
            .groupBy("src")
            .agg(F.min("comp").alias("_ncomp"))
            .withColumnRenamed("src", "id")
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(
                F.col("comp"), F.coalesce(F.col("_ncomp"), F.col("comp"))
            ).alias("_scomp"),
            F.col("comp").alias("_old"),
        )
        # pointer jump (path halving): follow _scomp to ITS label —
        # labels are vertex ids of the same component, so the lookup
        # stays in-component and the horizon doubles per round
        new_labels = (
            stepped.join(
                labels.select(
                    F.col("id").alias("_scomp"), F.col("comp").alias("_jcomp")
                ),
                "_scomp",
                "left",
            )
            .select(
                "id",
                F.least(
                    F.col("_scomp"), F.coalesce(F.col("_jcomp"), F.col("_scomp"))
                ).alias("comp"),
                F.col("_old"),
            )
            .select(
                "id", "comp", (F.col("comp") < F.col("_old")).alias("_chg")
            )
            # NON-eager checkpoint: eager=True would spend one job
            # materializing the round and a second on the convergence
            # count. Marking the RDD lazily lets the count below BE the
            # materializing action — its full scan computes and persists
            # every partition, and Spark's local-checkpoint bookkeeping
            # truncates the lineage when that same job completes (any
            # partition the action somehow skipped is filled in by the
            # checkpoint machinery before truncation, so correctness
            # never depends on the action's coverage). One job per
            # round instead of two — at small scale each round IS
            # mostly fixed job overhead, so this halves the loop's cost.
            .localCheckpoint(eager=False)
        )
        # full count, not filter().limit(1): the action must scan every
        # partition to double as the checkpoint materializer
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    e.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (component diameter exceeds 2^rounds growth)"
        )
    return labels


# --- C4-style duplicate-segment removal ---


def dedup_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 10,
) -> DataFrame:
    """Corpus-wide duplicate-SEGMENT removal, the C4 recipe (Raffel et
    al. 2020 §2.2 discard repeated three-sentence spans; the reference's
    in-document analog is the sentence-set dedup at ``src/core.py:453``).
    Whole-doc dedup misses boilerplate repeated INSIDE otherwise-unique
    pages — licence footers, nav blocks, cookie banners — which at
    100 TB is most of the duplication by volume.

    Each document is cut into consecutive ``seg_words``-word segments
    (a deterministic stand-in for sentence spans — this corpus has no
    punctuation); a segment occurring in several places survives only at
    its globally-first occurrence (min ``(id, seg_idx)``), everywhere
    else it is dropped. Returns one row per input doc: ``clean_text``
    (surviving segments rejoined in order, '' when everything was
    dropped) and ``n_kept_segments``.

    Scale shape — two agg-shaped shuffles, NO joins on the dup key:
    the global arg-min per segment is ``groupBy(seg).agg(min(struct))``,
    whose map-side partial aggregation collapses a boilerplate segment
    occurring 10^8 times to one row per map task BEFORE the exchange —
    the classic hot-key case that would melt a window/rank plan (a
    window must sort every occurrence of the hot segment in one task).
    The winner rows ARE the surviving occurrences, so reassembly is a
    direct second groupBy on the winner's doc id — no join back against
    the exploded rows. Per-doc ``collect_list`` is bounded by document
    size, not corpus size.
    """
    txt = F.trim(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    toks = F.split(txt, r"\s+")
    n_segs = F.ceil(F.size(toks) / F.lit(seg_words)).cast("int")
    # empty/NULL text guarded BEFORE sequence(): sequence(0, -1) walks
    # backwards in Spark instead of yielding an empty range
    segs = F.when(txt == "", F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.array_join(
                F.slice(toks, i * seg_words + 1, seg_words), " "
            ),
        )
    )
    seg_rows = df.select(F.col(id_col).alias("_did"), segs.alias("_segs")).select(
        "_did", F.posexplode("_segs").alias("seg_idx", "seg")
    )
    winners = seg_rows.groupBy("seg").agg(
        F.min(F.struct(F.col("_did"), F.col("seg_idx"))).alias("w")
    )
    rebuilt = (
        winners.select(
            F.col("w._did").alias("_did"),
            F.col("w.seg_idx").alias("seg_idx"),
            "seg",
        )
        .groupBy("_did")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").cast("long").alias("n_kept_segments"),
        )
    )
    return (
        df.select(F.col(id_col).alias("_did"))
        .join(rebuilt, "_did", "left")
        .select(
            F.col("_did").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_kept_segments"), F.lit(0).cast("long")).alias(
                "n_kept_segments"
            ),
        )
    )


# --- cross-document duplicate substring runs (ExactSubstr shape) ---


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    min_run: int = 3,
    max_occurrences: int = 200,
) -> DataFrame:
    """Maximal cross-document duplicate token runs — the distributed
    analog of suffix-array ExactSubstr dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better": remove
    verbatim substrings repeated across documents). The reference's
    closest surface is its sentence-set dedup (``src/core.py:453-455``);
    this finds duplication BELOW segment granularity and ACROSS docs —
    quoted replies, syndicated paragraphs, license blocks — which
    whole-doc and whole-segment dedup both miss.

    Method (all relational, no suffix array): each doc emits positioned
    ``k``-gram shingles over its ``\\s+`` token stream; an inverted-index
    self-join aligns equal shingles across doc pairs; matches with equal
    position offset (``pos_a - pos_b``) that are CONSECUTIVE in ``pos_a``
    form one run (islands via the classic ``pos - row_number`` trick).
    A run of ``L`` consecutive matching k-grams is ``L + k - 1`` matching
    tokens; runs shorter than ``min_run`` k-grams are noise and dropped.

    Scale shape: shingles occurring more than ``max_occurrences`` times
    in the corpus (counting within-doc repeats, so a pathological
    ``foo foo foo ...`` doc cannot square itself through the join) are
    stop-shingles — dropped from BOTH join sides before candidate
    generation, exactly the ``ngram_jaccard_pairs`` cap discipline, so
    no shingle bucket exceeds ``max_occurrences²`` rows and AQE can
    split what remains. The run window partitions on
    ``(id_a, id_b, offset)`` — bounded by a single document's token
    count, never by corpus size. Runs interrupted by a stop-shingle
    split into two reported runs (consistent in the DuckDB oracle,
    which replays this definition verbatim).

    Returns ``(id_a, id_b, start_a, start_b, match_tokens)`` — one row
    per maximal run, ``id_a < id_b``, positions 0-based token offsets.
    """
    from pyspark.sql import Window

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("sid"), toks.alias("_tk")
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_tk") - k),
        lambda i: F.array_join(F.slice("_tk", i + 1, k), " "),
    )
    # pos feeds THREE consumers (the stop-cap aggregate and both sides
    # of the self-join) — cache per the module's two-consumer discipline
    # or the split+transform+posexplode stage executes once per consumer
    pos = (
        base.filter(F.size("_tk") >= k)
        .select("sid", F.posexplode(grams).alias("pos", "shingle"))
        .cache()
    )
    # total-occurrence cap (NOT doc-frequency): bounds every join bucket
    # even under within-doc repetition; one agg with map-side combine
    ok = (
        pos.groupBy("shingle")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= max_occurrences)
        .select("shingle")
    )
    rare = pos.join(ok, "shingle")
    a = rare.select(
        F.col("sid").alias("id_a"), F.col("pos").alias("pos_a"), "shingle"
    )
    b = rare.select(
        F.col("sid").alias("id_b"), F.col("pos").alias("pos_b"), "shingle"
    )
    m = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "pos_a",
            "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("off"),
        )
    )
    # island detection: within one (pair, offset) partition each pos_a
    # occurs at most once, so pos_a - row_number is constant exactly on
    # consecutive-position runs
    w = Window.partitionBy("id_a", "id_b", "off").orderBy("pos_a")
    runs = m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    return (
        runs.groupBy("id_a", "id_b", "off", "grp")
        .agg(
            F.min("pos_a").cast("long").alias("start_a"),
            F.min("pos_b").cast("long").alias("start_b"),
            (F.count("*") + (k - 1)).cast("long").alias("match_tokens"),
        )
        .filter(F.col("match_tokens") >= min_run + k - 1)
        .select("id_a", "id_b", "start_a", "start_b", "match_tokens")
    )
