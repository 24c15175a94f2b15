"""Physical-plan regression tests: column pruning, filter pushdown, and
shuffle counts — the plan properties the 100 TB design depends on."""

import contextlib
import io
import re
import tempfile

import pytest

from pyspark.sql import functions as F

from docling_translate_spark.operators.extract import extract_turns_fused
from docling_translate_spark.schema import TRANSCRIPT_SCHEMA
from docling_translate_spark.synth import gen_rows


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def transcript_path(spark):
    tmp = tempfile.mkdtemp(prefix="dts-plan-")
    spark.createDataFrame(gen_rows(10, 4), TRANSCRIPT_SCHEMA).write.mode(
        "overwrite"
    ).parquet(tmp + "/t")
    return tmp + "/t"


def test_segmentation_prunes_columns(spark, transcript_path):
    """The scan under the fused extraction must read only the 4 needed
    columns — role/ts never cross Arrow."""
    df = spark.read.parquet(transcript_path)
    plan = _plan(extract_turns_fused(df))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    line = read_schema[0]
    for col in ("conv_id", "turn_idx", "text", "tool"):
        assert col in line
    assert "role" not in line
    assert "ts:" not in line


def test_filter_pushdown_reaches_scan(spark, transcript_path):
    """A conv_id predicate above the fused operator must push to parquet."""
    df = spark.read.parquet(transcript_path).filter(
        F.col("conv_id") == "conv-000003"
    )
    plan = _plan(extract_turns_fused(df))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    assert "conv_id" in pushed[0]


def test_fused_plan_has_zero_shuffles(spark, transcript_path):
    df = spark.read.parquet(transcript_path)
    plan = _plan(extract_turns_fused(df))
    assert "Exchange" not in plan, plan


def test_fused_plan_is_one_arrow_crossing(spark, transcript_path):
    """The whole extraction is one Arrow-native Python crossing: no
    pandas conversion and no exchange."""
    df = spark.read.parquet(transcript_path)
    plan = _plan(extract_turns_fused(df), "simple")
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan
    assert "Exchange" not in plan, plan


def test_hash_sample_is_shuffle_free(spark, transcript_path):
    """Deterministic sampling must stay a pushed-through filter — no
    exchange, no sort, no Python."""
    from docling_translate_spark.operators.sampling import hash_sample

    df = spark.read.parquet(transcript_path)
    plan = _plan(hash_sample(df, 0.25, id_col="conv_id"), "simple")
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_repetition_features_stay_jvm_side(spark, transcript_path):
    """Repetition gates are pure column exprs: no Python, no shuffle."""
    from docling_translate_spark.operators.text_analysis import repetition_features

    df = spark.read.parquet(transcript_path)
    plan = _plan(repetition_features(df), "simple")
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_blocked_topk_shuffle_shape(spark, transcript_path):
    """The blocked exact-kNN plan must contain NO broadcast of vector
    payloads and no driver collect: both sides hash-aggregate into
    packed blocks, cells form via a cartesian of the two tiny packed
    relations, and the only exchanges are the two pack groupBys + the
    final merge window."""
    from docling_translate_spark.operators.similarity import brute_force_topk_blocked

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(brute_force_topk_blocked(emb, emb, k=3, n_blocks=4), "simple")
    assert "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "collect_list" in plan
    # vector payloads must never be broadcast as a hash-join build side
    assert "BroadcastHashJoin" not in plan, plan
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


def test_ngram_jaccard_sizes_attach_to_pairs_not_broadcast(
    spark, transcript_path
):
    """The per-doc informative-set sizes must attach to the (few)
    aggregated PAIRS via shuffled equi-joins — never as a FORCED
    broadcast of a |docs|-row aggregate (round 1's planner-forced OOM at
    10^9 docs), and never riding the string shingle rows through the
    self-join exchange."""
    from docling_translate_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.read.parquet(transcript_path).select(
        F.col("turn_idx").alias("doc_id"), "text"
    )
    out = ngram_jaccard_pairs(df, n=3, threshold=0.5)
    # no FORCED broadcast hint anywhere in the logical plan (the
    # planner choosing a broadcast from size stats at tiny scale is
    # fine — a hint would force it regardless of the aggregate's size)
    logical = _plan(out, "extended")
    assert "ResolvedHint" not in logical, logical
    plan = _plan(out, "simple")
    # the two id-keyed sizes joins exist and sit ABOVE the pair
    # aggregate (their join condition references the n_common output)
    n_joins = sum(plan.count(op) for op in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    # inverted-index self-join + 3 uses of the cached freq join subtree
    # (a, b, sizes — collapsed to one scan at runtime by the cache) + 2
    # slim sizes joins on pair ids
    assert n_joins == 7, plan
    assert "Join [id_a" in plan, plan


def test_similarity_no_unbounded_driver_collect():
    """No corpus-sized .collect() in similarity.py: the only allowed
    call site is IVF's bounded (limit max_train) quantizer-training
    sample."""
    import inspect

    from docling_translate_spark.operators import similarity

    src = inspect.getsource(similarity)
    for chunk in src.split("def ")[1:]:
        name = chunk.split("(")[0]
        if ".collect()" in chunk:
            assert name == "ivf_train_rows", f"unexpected driver collect in {name}"
            assert ".limit(max_train)" in chunk.split(".collect()")[0]


def test_lsh_rescore_is_distributed_jvm(spark):
    """LSH ANN rescoring must attach candidate vectors via shuffle joins
    and score with the codegen cosine + window top-k — never a corpus
    broadcast (no BroadcastExchange carrying the embedding column) and
    no Python beyond the signature kernel."""
    from docling_translate_spark.operators.similarity import lsh_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = lsh_ann_topk(emb, dim=64, k=3, n_planes=4, n_tables=4)
    plan = _plan(df, "simple")
    assert "Window" in plan, plan
    # Python crossings: the signature kernel (cached — its subtree
    # prints under both InMemoryTableScan sites) and the bucket GEMM;
    # rescoring itself must add none
    assert plan.count("MapInArrow") == 3, plan
    assert "MapInPandas" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    for line in plan.splitlines():
        if "BroadcastExchange" in line:
            assert "embedding" not in line, plan
    # r3 verdict #5: bucket sizes are computed on slim (table, bucket)
    # keys BEFORE the vector join — no Window partition may carry the
    # vector column (a mega-bucket's payload would colocate in one task)
    fplan = _plan(df, "formatted")
    for blk in fplan.split("\n\n"):
        if "Window" in blk.split("\n")[0]:
            assert "_v#" not in blk, blk


def test_minhash_band_join_exchange_is_slim(spark, transcript_path):
    """The (band, bh) candidate self-join must shuffle slim
    (sid, band, bh) rows only — no Exchange on the band keys may carry
    the num_hashes-long signature array (r2 verdict: ~1 KB of payload
    per exploded band row per side ⇒ tens of TB of shuffle at 10^9
    docs). Signatures attach to the deduped pairs afterwards, visible
    as the two id-keyed equi-joins."""
    from docling_translate_spark.operators.dedup import minhash_lsh_pairs

    df = spark.read.parquet(transcript_path).select(
        F.col("turn_idx").alias("doc_id"), "text"
    )
    # force the shuffle-join plan the big cluster would pick (the tiny
    # fixture would broadcast everything and hide the exchange payload)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(minhash_lsh_pairs(df, threshold=0.5), "formatted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    band_exchanges = [
        blk
        for blk in plan.split("\n\n")
        if "Exchange" in blk.split("\n")[0] and "band#" in blk and "bh#" in blk
    ]
    assert band_exchanges, plan
    for blk in band_exchanges:
        assert "signature" not in blk, blk
    # the attach joins key on the pair ids (signature rides them only)
    assert "id_a" in plan and "id_b" in plan
    # the signature kernel crosses the Python boundary as Arrow batches
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


def test_dedup_segments_argmin_is_agg_not_window(spark):
    """The global keep-first arg-min must plan as an aggregate with a
    map-side partial (hot boilerplate segments collapse per map task
    BEFORE the exchange) — never as a window/rank over the segment key,
    which would sort every occurrence of a hot segment in one task."""
    from docling_translate_spark.operators.dedup import dedup_segments

    df = spark.createDataFrame(
        [(i, "a b c d e f g h i j k l") for i in range(8)],
        "doc_id long, text string",
    )
    plan = _plan(dedup_segments(df))
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_curation_exact_dedup_is_argmin_not_window(spark, transcript_path):
    """curate_turns' exact-dedup stage must plan as the arg-min groupBy
    + semi-join (map-side partial collapses a hot fingerprint BEFORE the
    exchange), never as a row_number window partitioned by fingerprint —
    the exact hot-key shape dedup_segments' docstring warns would melt
    (a viral template repeated 10^8 times sorts in ONE task under a
    window). r3 verdict #2."""
    from docling_translate_spark.pipeline import CurationConfig, curate_turns

    df = spark.read.parquet(transcript_path)
    plan = _plan(
        curate_turns(df, CurationConfig(min_quality=0.0, near_dup=False))
    )
    assert "Window" not in plan, plan
    assert "partial_min" in plan, plan
    # the winner rows come back via a semi-join, not a rank filter
    assert "LeftSemi" in plan, plan


def test_unigram_logprob_stays_jvm_side(spark):
    """Vocab counting and scoring are plain aggregates/joins — no
    per-row Python, and the corpus total attaches via broadcast."""
    from docling_translate_spark.operators.text_analysis import unigram_logprob

    df = spark.createDataFrame(
        [(i, "tok%d common" % (i % 3)) for i in range(8)],
        "doc_id long, text string",
    )
    plan = _plan(unigram_logprob(df))
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_bm25_zero_shuffle_scoring(spark):
    """BM25: term frequencies are row-local array reductions (no
    explode), corpus stats reduce to ONE broadcast row, and the cut is
    a TakeOrdered — the only exchange in the whole plan is the
    single-row stats aggregation. No shuffle joins, no Python, no
    Window, no Generate (explode)."""
    from docling_translate_spark.operators.retrieval import bm25_topk

    df = spark.createDataFrame(
        [(i, f"spark window alpha {i}") for i in range(30)],
        "doc_id long, text string",
    )
    plan = _plan(bm25_topk(df, "spark window", 5))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan
    assert "Generate" not in plan  # no explode: tf is row-local
    # the only allowed exchange is the single-row stats aggregation
    # (Exchange SinglePartition); corpus rows are never repartitioned
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_dsir_ratio_broadcasts_and_stays_jvm(spark):
    """DSIR's likelihood-ratio table (≤ m_buckets rows) must reach the
    scoring join as a broadcast — a shuffle join there would hash the
    corpus-sized gram table on bucket (m distinct keys: guaranteed hot
    partitions). The whole operator is column-expression-only: no
    Python UDF (BatchEvalPython/ArrowEvalPython) and no Window."""
    from docling_translate_spark.operators.sampling import dsir_weights

    raw = spark.createDataFrame(
        [(i, f"alpha beta gamma {i}") for i in range(40)],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [(100 + i, f"alpha beta {i}") for i in range(10)],
        "doc_id long, text string",
    )
    plan = _plan(dsir_weights(raw, tgt))
    assert "BroadcastHashJoin" in plan
    # "some broadcast join exists" is not enough: a tiny side-join can
    # auto-broadcast even if the ratio→gram scoring join regresses to a
    # shuffle. Ban shuffle joins keyed on the bucket column `_b`
    # specifically (the final corpus-sized id-reattach join on `_did`
    # is legitimately sort-merge). Formatted mode gives one detail
    # block per node: "(n) SortMergeJoin\nLeft keys [...]...".
    for block in re.split(r"\n\(\d+\) ", plan):
        head = block.split("\n", 1)[0]
        if "SortMergeJoin" in head or "ShuffledHashJoin" in head:
            assert "_b" not in block, block
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan


def test_semdedup_stays_jvm_and_equi_joined(spark):
    """SemDeDup with a pinned codebook is pure column expressions: the
    assignment projection, the cell equi-join, the DECIMAL threshold
    test and the anti-shaped verdict join — no Python anywhere, and
    the within-cell pairing must plan as an equi-join on cell, never a
    cartesian (the Σ|cell|² cost model depends on it)."""
    from docling_translate_spark.operators.semdedup import semdedup_exact
    from docling_translate_spark.operators.similarity import IVF_GRID

    emb = spark.createDataFrame(
        [(i, [1.0 - 0.001 * i, 0.001 * i, 0.0, 0.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    cents = [[IVF_GRID, 0, 0, 0], [0, IVF_GRID, 0, 0]]
    plan = _plan(semdedup_exact(emb, thr_milli=950, centroid_ints=cents))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bpe_pair_stats_plan_shape(spark):
    """BPE stats: the corpus-sized word count must partial-aggregate
    (map-side combine), the top-k cut must be a bounded
    TakeOrderedAndProject (never a global sort), and nothing runs in
    Python."""
    from docling_translate_spark.operators.bpe import bpe_pair_stats

    df = spark.createDataFrame(
        [(f"alpha beta gamma {'delta ' * (i % 3)}",) for i in range(30)],
        "text string",
    )
    plan = _plan(bpe_pair_stats(df, top_k=5))
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_decontam_stays_jvm_and_equi_joined(spark):
    """Same contract as semdedup: no Python, and the corpus×eval
    candidate stage must be an equi-join on cell, never a cartesian —
    the eval-side multiprobe explode must not degrade the join."""
    from docling_translate_spark.operators.semdedup import (
        semantic_decontaminate,
    )
    from docling_translate_spark.operators.similarity import IVF_GRID

    emb = spark.createDataFrame(
        [(i, [1.0 - 0.001 * i, 0.001 * i, 0.0, 0.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    cents = [[IVF_GRID, 0, 0, 0], [0, IVF_GRID, 0, 0]]
    plan = _plan(
        semantic_decontaminate(emb, emb, thr_milli=950, centroid_ints=cents)
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivfpq_stays_jvm_and_equi_joined(spark):
    """IVF-PQ with pinned codebooks: encode/LUT projections and the ADC
    sum are pure column expressions (no Python), candidates form by the
    cell equi-join (never a cartesian), and no vector payloads are
    broadcast as a hash-join build side is NOT required — codes and
    LUTs are the only things the scoring join moves."""
    from docling_translate_spark.operators.similarity import (
        IVF_GRID,
        ivfpq_topk,
    )

    emb = spark.createDataFrame(
        [(i, [1.0 - 0.001 * i, 0.001 * i, 0.0, 0.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    cents = [[IVF_GRID, 0, 0, 0], [0, IVF_GRID, 0, 0]]
    cbs = [[[IVF_GRID, 0], [0, IVF_GRID]], [[IVF_GRID, 0], [0, IVF_GRID]]]
    plan = _plan(
        ivfpq_topk(emb, k=3, nprobe=2, centroid_ints=cents, codebook_ints=cbs)
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bitext_stays_jvm_and_equi_joined(spark):
    """Bitext mining: both directed kNNs are cell equi-joins (never a
    cartesian — candidate work is probe-scoped like semantic_decontam),
    backgrounds/margins are aggs + bounded windows, no Python."""
    from docling_translate_spark.operators.bitext import bitext_mine
    from docling_translate_spark.operators.similarity import IVF_GRID

    a = spark.createDataFrame(
        [(i, [1.0 - 0.001 * i, 0.001 * i, 0.0, 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(100 + i, [0.001 * i, 1.0 - 0.001 * i, 0.0, 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    cents = [[IVF_GRID, 0, 0, 0], [0, IVF_GRID, 0, 0]]
    plan = _plan(bitext_mine(a, b, k=2, nprobe=2, centroid_ints=cents))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
