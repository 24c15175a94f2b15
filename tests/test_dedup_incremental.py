"""Incremental snapshot dedup: within-batch exact, exact-vs-snapshot,
cross-corpus near-dup against a committed index, equality with a
from-scratch recompute over the raw snapshot, index maintenance and
persistence, determinism."""

import pytest

from pyspark.sql import functions as F

from docling_translate_spark.operators.dedup import (
    build_ingest_index,
    dedup_incremental,
    informative_shingles,
    load_ingest_index,
    save_ingest_index,
    shingle_df,
    updated_ingest_index,
)

SEEN_TXT = "alpha beta gamma delta epsilon zeta eta theta"
NEAR_TXT = SEEN_TXT + " iota"  # shares 6 of 7 shingles -> j = 6/7
FRESH_TXT = "one two three four five six seven"


@pytest.fixture(scope="module")
def corpora(spark):
    seen = spark.createDataFrame(
        [(1, SEEN_TXT), (2, "completely different snapshot doc here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, FRESH_TXT),  # admit
            (11, FRESH_TXT),  # within-batch dup of 10 -> drop (min id wins)
            (12, SEEN_TXT),  # exact copy of snapshot -> drop
            (13, NEAR_TXT),  # near-dup of snapshot -> drop at 0.8
            (14, "unrelated brand new content entirely fresh words"),  # admit
        ],
        "doc_id long, text string",
    )
    return batch, seen


def test_three_stages(spark, corpora):
    batch, seen = corpora
    got = {
        r["doc_id"]
        for r in dedup_incremental(batch, build_ingest_index(seen)).collect()
    }
    assert got == {10, 14}


def test_near_dup_off_keeps_near_dups(spark, corpora):
    batch, seen = corpora
    got = {
        r["doc_id"]
        for r in dedup_incremental(
            batch, build_ingest_index(seen), near_dup=False
        ).collect()
    }
    assert got == {10, 13, 14}


def test_threshold_controls_near_dup(spark, corpora):
    batch, seen = corpora
    # j(13 vs 1) = 6/7 ≈ 0.857: admitted above it, dropped below it
    got = {
        r["doc_id"]
        for r in dedup_incremental(
            batch, build_ingest_index(seen), threshold=0.9
        ).collect()
    }
    assert 13 in got


def test_null_text_rows_never_admitted(spark, corpora):
    """md5(NULL) is NULL; the stage-1 fingerprint semi-join uses
    standard equality, so textless rows drop — the documented ingest
    behavior, identical in any SQL engine."""
    _, seen = corpora
    batch = spark.createDataFrame(
        [(20, None), (21, FRESH_TXT)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]
        for r in dedup_incremental(batch, build_ingest_index(seen)).collect()
    }
    assert got == {21}


def test_plan_no_python_no_window(spark, corpora):
    """Every stage is joins/aggs on column expressions: no Python
    eval nodes and no Window anywhere (the within-batch exact stage is
    the arg-min groupBy, not a rank)."""
    import contextlib
    import io

    batch, seen = corpora
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dedup_incremental(batch, build_ingest_index(seen)).explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan


def _gate_shaped(spark):
    """The gate query's four-branch construction over real sf0.001 docs:
    word-salad corpus, 4-gram shingles, stop cap 20 — hot shingles exist,
    so the cap is actually exercised (no shingle flips over it)."""
    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    seen = d.filter(F.col("doc_id") % 3 == 0)
    fresh = d.filter(F.col("doc_id") % 3 != 0)
    batch = (
        fresh.unionAll(
            seen.filter(F.col("doc_id") % 2 == 0).select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
            )
        ).unionAll(
            seen.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 30_000_000).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" xq"), F.col("doc_id").cast("string")
                ).alias("text"),
            )
        )
    )
    return batch, seen


def _recompute_admitted(batch, seen, n, max_bucket, threshold):
    """Reference: the three stages recomputed from the raw snapshot
    ``seen`` on every call (snapshot shingles, combined frequencies and
    snapshot sizes aggregated afresh) — what the committed index saves
    an ingest from doing."""
    text_col, id_col = "text", "doc_id"
    fp = F.md5(F.col(text_col))
    b = batch.withColumn("_fp", fp)

    # stage 1: within-batch exact (arg-min groupBy, NOT a window)
    winners = b.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    b = b.join(winners, ["_fp", id_col], "left_semi")

    # stage 2: exact vs snapshot (slim hash column, anti-join)
    seen_fp = seen.select(fp.alias("_fp"))
    b = b.join(seen_fp, "_fp", "left_anti")

    # stage 3: b feeds TWO consumers (shingle build + final anti-join
    # probe): persist, or the upstream lineage runs once per consumer
    b = b.persist()
    bs = shingle_df(b, text_col, id_col, n).cache()
    ss = shingle_df(seen, text_col, id_col, n).cache()
    # combined document frequency -> one stop-shingle set for BOTH
    # sides (consistent filtering, same argument as
    # ngram_jaccard_pairs' docstring)
    freq = (
        bs.select("shingle")
        .unionAll(ss.select("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("df_"))
    )
    ok = freq.filter(F.col("df_") <= max_bucket).select("shingle")
    rare_b, bsz = informative_shingles(bs, ok)
    rare_s, ssz = informative_shingles(ss, ok)
    pairs = (
        rare_b.select(F.col("sid").alias("_bid"), "shingle")
        .join(rare_s.select(F.col("sid").alias("_sid"), "shingle"), "shingle")
        .groupBy("_bid", "_sid")
        .agg(F.count("*").alias("nc"))
    )
    flagged = (
        pairs.join(
            bsz.select(F.col("sid").alias("_bid"), F.col("rsz").alias("bsz")),
            "_bid",
        )
        .join(
            ssz.select(F.col("sid").alias("_sid"), F.col("rsz").alias("ssz")),
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


def _flip_shaped(spark):
    """3-gram shingles, stop cap 2, threshold 0.6. Batch doc 11 pushes
    'd e f' (snapshot df 2) over the cap, so snapshot doc 1's
    informative size drops from 4 to 3 and batch doc 10 reaches
    Jaccard 2/3 against it (1/2 without the flip): 10 is rejected,
    11 admitted."""
    seen = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "d e f g")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, "a b c d"), (11, "x d e f")], "doc_id long, text string"
    )
    return batch, seen


def test_index_fed_equals_recompute(spark, corpora):
    """The committed-index path must admit EXACTLY the rows a
    from-scratch recompute over the raw snapshot admits — on the small
    fixture, on gate-shaped real docs with a live stop cap, and on a
    batch that flips a snapshot shingle over the cap."""
    batch, seen = corpora
    a = sorted(
        r["doc_id"]
        for r in _recompute_admitted(batch, seen, 3, 1000, 0.8).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in dedup_incremental(batch, build_ingest_index(seen)).collect()
    )
    assert a == b == [10, 14]

    gb, gs = _gate_shaped(spark)
    gidx = build_ingest_index(gs, n=4, max_bucket=20)
    ra = sorted(
        r["doc_id"] for r in _recompute_admitted(gb, gs, 4, 20, 0.3).collect()
    )
    rb = sorted(
        r["doc_id"]
        for r in dedup_incremental(gb, gidx, threshold=0.3).collect()
    )
    assert ra == rb and len(ra) > 0

    fb, fs = _flip_shaped(spark)
    fa = sorted(
        r["doc_id"] for r in _recompute_admitted(fb, fs, 3, 2, 0.6).collect()
    )
    fi = sorted(
        r["doc_id"]
        for r in dedup_incremental(
            fb, build_ingest_index(fs, n=3, max_bucket=2), threshold=0.6
        ).collect()
    )
    assert fa == fi == [11]


def test_updated_index_equals_rebuild(spark):
    """updated_ingest_index(idx, admitted) ≡ build_ingest_index(seen ∪
    admitted) on every table — the per-commit maintenance recipe is
    exact, including sizes adjustments from commit-induced cap flips."""

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for (gb, gs), n, cap, threshold in (
        (_gate_shaped(spark), 4, 20, 0.3),
        (_flip_shaped(spark), 3, 2, 0.6),
    ):
        idx = build_ingest_index(gs, n=n, max_bucket=cap)
        admitted = dedup_incremental(gb, idx, threshold=threshold)
        upd = updated_ingest_index(idx, admitted)
        rebuilt = build_ingest_index(
            gs.unionByName(admitted.select("doc_id", "text")),
            n=n,
            max_bucket=cap,
        )
        assert rows(upd.hashes) == rows(rebuilt.hashes)
        assert rows(upd.shingles) == rows(rebuilt.shingles)
        assert rows(upd.freq) == rows(rebuilt.freq)
        assert rows(upd.sizes) == rows(rebuilt.sizes)


def test_index_roundtrip_and_param_guard(spark, corpora, tmp_path):
    """The shingle order and stop cap travel with the saved index — the
    probe reads them from there, never from its caller."""
    batch, seen = corpora
    idx = build_ingest_index(seen, n=3, max_bucket=1000)
    save_ingest_index(idx, str(tmp_path / "idx"))
    loaded = load_ingest_index(spark, str(tmp_path / "idx"))
    assert (loaded.n, loaded.max_bucket) == (3, 1000)
    got = {r["doc_id"] for r in dedup_incremental(batch, loaded).collect()}
    assert got == {10, 14}


def test_steady_state_commit_to_same_path(spark, corpora, tmp_path):
    """The production flow the docstrings advertise: load the committed
    index, admit a batch against it, fold the admitted rows in with
    updated_ingest_index, and SAVE BACK TO THE SAME PATH — the save
    must not trip over its own read lineage (versioned snapshot commit,
    not in-place overwrite), and the reloaded index must equal a from-
    scratch rebuild over snapshot ∪ admitted."""
    batch, seen = corpora
    p = str(tmp_path / "idx")
    save_ingest_index(build_ingest_index(seen, n=3, max_bucket=1000), p)

    loaded = load_ingest_index(spark, p)
    admitted = dedup_incremental(batch, loaded)
    save_ingest_index(updated_ingest_index(loaded, admitted), p)

    reloaded = load_ingest_index(spark, p)
    rebuilt = build_ingest_index(
        seen.unionByName(admitted.select("doc_id", "text")),
        n=3,
        max_bucket=1000,
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(reloaded.hashes) == rows(rebuilt.hashes)
    assert rows(reloaded.shingles) == rows(rebuilt.shingles)
    assert rows(reloaded.freq) == rows(rebuilt.freq)
    assert rows(reloaded.sizes) == rows(rebuilt.sizes)
    # a second commit keeps advancing (crash-consistent marker flip)
    save_ingest_index(reloaded, p)
    assert load_ingest_index(spark, p).n == 3


def test_lost_marker_never_clobbers_snapshots(spark, corpora, tmp_path):
    """A missing/corrupt latest marker while v* snapshots exist (crash
    during the marker's own non-atomic overwrite, transient store
    error) must NOT make the next save restart at v0 and overwrite the
    oldest snapshot — the version comes from the directory scan. Load
    refuses loudly in that state rather than guess a snapshot, and a
    path with no marker and no snapshots is reported as holding no
    index."""
    import shutil

    import pytest

    _, seen = corpora
    p = str(tmp_path / "idx")
    with pytest.raises(FileNotFoundError, match="no ingest index"):
        load_ingest_index(spark, p)
    save_ingest_index(build_ingest_index(seen, n=3, max_bucket=1000), p)
    save_ingest_index(load_ingest_index(spark, p), p)  # v0 and v1

    shutil.rmtree(tmp_path / "idx" / "latest")
    with pytest.raises(RuntimeError, match="no readable latest marker"):
        load_ingest_index(spark, p)

    # rebuild an index from scratch and save to the damaged path: must
    # create v2, leaving v0/v1 untouched
    save_ingest_index(build_ingest_index(seen, n=3, max_bucket=1000), p)
    assert (tmp_path / "idx" / "v2" / "meta").exists()
    assert (tmp_path / "idx" / "v0" / "meta").exists()
    assert load_ingest_index(spark, p).n == 3


def test_columns_pass_through_and_deterministic(spark, corpora):
    batch, seen = corpora
    wide = batch.withColumn("extra", F.col("doc_id") * 2)
    idx = build_ingest_index(seen)
    a = sorted(map(tuple, dedup_incremental(wide, idx).collect()))
    b = sorted(
        map(
            tuple,
            dedup_incremental(
                wide.repartition(7), build_ingest_index(seen.repartition(3))
            ).collect(),
        )
    )
    assert a == b
    assert {c for c in dedup_incremental(wide, idx).columns} == {
        "doc_id",
        "text",
        "extra",
    }
