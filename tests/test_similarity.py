"""Similarity-search fixtures: brute-force top-k, LSH ANN recall,
cosine near-dup pairs — over the driver's embeddings table."""

import math

import numpy as np
import pytest

from docling_translate_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    lsh_ann_topk,
)

SF_DIR = "/root/testdata/sf0.001"
DIM = 64


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _numpy_topk(rows, k=5):
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    out = {}
    for i, qid in enumerate(ids):
        order = sorted(
            ((sims[i, j], ids[j]) for j in range(len(ids)) if j != i),
            key=lambda t: (-t[0], t[1]),
        )
        out[int(qid)] = [(int(nid), s) for s, nid in order[:k]]
    return out


def test_brute_force_matches_numpy(spark, emb):
    sample = emb.limit(40).cache()
    rows = sample.collect()
    expected = _numpy_topk(rows, k=5)
    got = brute_force_topk(sample, sample, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    assert len(by_q) == len(rows)
    for qid, exp in expected.items():
        mine = sorted(by_q[qid])
        assert [m[1] for m in mine] == [e[0] for e in exp], qid
        for (_, _, got_cos), (_, exp_cos) in zip(mine, exp):
            assert math.isclose(got_cos, exp_cos, rel_tol=1e-9)


def _ranked(df):
    return {(r["query_id"], r["rank"]): r["neighbor_id"] for r in df.collect()}


def test_blocked_topk_matches_jvm(spark, emb):
    """Block-packing both sides must not change a single neighbor or
    rank vs the JVM brute-force plan — at any block count, including
    blocks smaller than k."""
    from docling_translate_spark.operators.similarity import (
        brute_force_topk_blocked,
    )

    jvm = _ranked(brute_force_topk(emb, emb, k=5))
    for n_blocks in (1, 4, 64):
        blocked = _ranked(brute_force_topk_blocked(emb, emb, k=5, n_blocks=n_blocks))
        assert blocked == jvm, f"n_blocks={n_blocks}"


def _per_row_topk(qids, cids, scores, k):
    """The ranking rule one row at a time: score descending (NaN last),
    ties on neighbor id, self skipped, first k kept."""
    out = []
    for i, qid in enumerate(qids):
        for j in np.lexsort((cids, -scores[i])):
            if cids[j] == qid:
                continue
            out.append((int(qid), int(cids[j]), scores[i, j]))
            if sum(1 for o in out if o[0] == qid) == k:
                break
    return out


@pytest.mark.parametrize("chunk", [1, 7, 1 << 18])
def test_cell_topk_matches_per_row_rule(monkeypatch, chunk):
    """The vectorised cell kernel keeps exactly the rows of the per-row
    rule — heavy ties, NaN scores, integer scores, k >= the cell's
    width, self inside and outside the cell — in any row chunking."""
    from docling_translate_spark.operators import similarity

    monkeypatch.setattr(similarity, "_RANK_CHUNK", chunk)
    rng = np.random.RandomState(3)
    for trial in range(60):
        n, m = rng.randint(1, 12), rng.randint(1, 15)
        qids = rng.choice(20, n, replace=False).astype(np.int64)
        cids = rng.choice(20, m, replace=False).astype(np.int64)
        scores = rng.randint(-3, 4, (n, m))
        if trial % 2:
            scores = scores / 4.0
            scores[rng.rand(n, m) < 0.15] = np.nan
        k = rng.randint(1, m + 3)
        got = [
            (int(q), int(c), s)
            for part in similarity._cell_topk(qids, cids, scores, k)
            for q, c, s in zip(*part)
        ]
        want = _per_row_topk(qids, cids, scores, k)
        # repr: NaN scores compare equal by spelling, not by value
        assert sorted(map(repr, got)) == sorted(map(repr, want)), trial


@pytest.fixture(scope="module")
def tripled(spark):
    """40 random 16-dim vectors, each stored three times: every query's
    nearest neighbors are exact cosine ties, broken only by id."""
    rng = np.random.RandomState(7)
    base = rng.randn(40, 16)
    rows = [(i, base[i % 40].tolist()) for i in range(120)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_tied_neighbors_rank_alike_in_every_cell(spark, tripled):
    """Copies of one vector scored in differently shaped GEMM cells must
    score bit-identically, so the neighbor-id tie-break decides their
    order: blocked kNN equals the JVM plan at any block count and
    partitioning, uncapped LSH finds the exact top-2 (the two copies),
    and the integer-scored quantized top-k does not move."""
    from docling_translate_spark.operators.similarity import (
        brute_force_topk_blocked,
        quantized_ip_topk,
    )

    exact = _ranked(brute_force_topk(tripled, tripled, k=4))
    assert len(exact) == 480
    top2 = {key: n for key, n in exact.items() if key[1] <= 2}
    quantized = _ranked(quantized_ip_topk(tripled, tripled, k=4, n_blocks=1))
    for parts in (1, 7):
        emb = tripled.repartition(parts)
        for n_blocks in (1, 4, 64):
            where = f"repartition({parts}), n_blocks={n_blocks}"
            blocked = brute_force_topk_blocked(emb, emb, k=4, n_blocks=n_blocks)
            assert _ranked(blocked) == exact, where
            q = quantized_ip_topk(emb, emb, k=4, n_blocks=n_blocks)
            assert _ranked(q) == quantized, where
        lsh = lsh_ann_topk(emb, dim=16, k=2, max_bucket=10**9)
        assert _ranked(lsh) == top2, f"repartition({parts})"


def test_exact_pairs_superset_of_lsh(spark, emb):
    """cosine_pairs_exact is ground truth: the LSH near-dup pairs must be
    a subset, and every exact pair must clear the threshold."""
    from docling_translate_spark.operators.similarity import cosine_pairs_exact

    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_pairs_exact(emb, threshold=0.35, n_blocks=4).collect()
    }
    for (a, b), c in exact.items():
        assert a < b and c >= 0.35
    lsh = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(
            emb, dim=DIM, threshold=0.35, n_planes=6, n_tables=8
        ).collect()
    }
    assert lsh <= set(exact), "LSH emitted a pair the exact scan rejects"


@pytest.mark.parametrize("batch", [1, 10000])
@pytest.mark.parametrize("n_blocks", [1, 4])
def test_exact_pairs_match_numpy_reference(spark, batch, n_blocks):
    """cosine_pairs_exact equals a plain numpy all-pairs scan over 40
    vectors, whether each Arrow batch holds one block cell or all of
    them."""
    from docling_translate_spark.operators.similarity import cosine_pairs_exact

    rng = np.random.RandomState(5)
    mat = rng.randn(40, 8)
    ids = np.arange(100, 140)
    rows = [(int(i), v.tolist()) for i, v in zip(ids, mat)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = unit @ unit.T
    want = {
        (int(ids[i]), int(ids[j])): sims[i, j]
        for i in range(40)
        for j in range(i + 1, 40)
        if sims[i, j] >= 0.3
    }
    assert len(want) > 50
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(batch))
    try:
        got = cosine_pairs_exact(emb, threshold=0.3, n_blocks=n_blocks).collect()
    finally:
        spark.conf.set(key, old)
    assert len(got) == len(want)
    assert {(r["id_a"], r["id_b"]) for r in got} == set(want)
    for r in got:
        assert abs(r["cosine"] - want[(r["id_a"], r["id_b"])]) <= 1e-12


def test_null_vector_rows_are_dropped(spark):
    """A null vector has no score: the blocked kNN, the quantized MIPS,
    the exact pair scan, LSH top-k, LSH near-dup pairs, IVF top-k,
    IVF-PQ top-k, SemDeDup, semantic decontamination and bitext mining
    over a corpus with null-vector rows equal their output over the same
    corpus without those rows, instead of failing the job — the null
    must not shift later vectors onto other ids in its block, and gets
    no cell, no probes and no verdict row."""
    from docling_translate_spark.operators.bitext import bitext_mine
    from docling_translate_spark.operators.semdedup import (
        semantic_decontaminate,
        semdedup_exact,
    )
    from docling_translate_spark.operators.similarity import (
        brute_force_topk_blocked,
        cosine_pairs_exact,
        ivf_topk_exact,
        ivfpq_topk,
        quantized_ip_topk,
    )

    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(4).tolist()) for i in range(1, 21)]
    with_null = rows[:1] + [(1000, None)] + rows[1:9] + [(1001, None)] + rows[9:]
    schema = "vec_id long, embedding array<double>"
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(with_null, schema)
    runs = {
        "lsh": lambda df: lsh_ann_topk(df, dim=4, k=3, n_planes=2, n_tables=4),
        "near_dup": lambda df: cosine_near_dup_pairs(
            df, dim=4, threshold=0.3, n_planes=2, n_tables=4
        ),
        "ivf": lambda df: ivf_topk_exact(df, k=3, n_cells=3, nprobe=2),
        "ivfpq": lambda df: ivfpq_topk(df, k=3, n_cells=3, nprobe=2, m=2, ks=4),
        "semdedup": lambda df: semdedup_exact(df, thr_milli=400, n_cells=3),
        "semantic_decontam": lambda df: semantic_decontaminate(
            df, df, thr_milli=400, n_cells=3, nprobe=2
        ),
        "bitext": lambda df: bitext_mine(df, df, k=2, n_cells=3, nprobe=2),
    }
    for n in (1, 4):
        runs[f"blocked/{n}"] = lambda df, n=n: brute_force_topk_blocked(df, df, k=3, n_blocks=n)
        runs[f"quantized/{n}"] = lambda df, n=n: quantized_ip_topk(df, df, k=3, n_blocks=n)
        runs[f"pairs/{n}"] = lambda df, n=n: cosine_pairs_exact(df, threshold=0.3, n_blocks=n)
    for name, run in runs.items():
        want = sorted(map(tuple, run(clean).collect()))
        assert want, name
        assert sorted(map(tuple, run(dirty).collect())) == want, name


def test_block_reader_rejects_misaligned_input():
    """The Arrow matrix reader fails loudly on a null vector, vectors of
    unequal length and an id count that differs from the vector count,
    and reads a sliced array at its own offset."""
    import pyarrow as pa

    from docling_translate_spark.arrow_io import read_matrix

    vecs = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]], pa.list_(pa.float32()))
    ids, mat = read_matrix(pa.array([7, 8], pa.int64()), vecs.slice(1), np.float64)
    assert ids.tolist() == [7, 8] and mat.tolist() == [[3.0, 4.0], [5.0, 6.0]]
    bad = [
        (pa.array([1, 2]), pa.array([[1.0], None])),
        (pa.array([1, 2]), pa.array([[1.0], [1.0, 2.0]])),
        (pa.array([1]), pa.array([[1.0], [2.0]])),
        (pa.array([1, None]), pa.array([[1.0], [2.0]])),
    ]
    for b_ids, b_vecs in bad:
        with pytest.raises(ValueError):
            read_matrix(b_ids, b_vecs, np.float64)


def test_lsh_ann_recall(spark, emb):
    """ANN with few planes must recover most of the exact top-1s."""
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(emb, emb, k=1).collect()
    }
    ann = {}
    for r in lsh_ann_topk(emb, dim=DIM, k=1, n_planes=4, n_tables=24).collect():
        ann[r["query_id"]] = r["neighbor_id"]
    hits = sum(1 for q, n in exact.items() if ann.get(q) == n)
    recall = hits / len(exact)
    assert recall > 0.8, f"top-1 recall too low: {recall}"


def test_ivf_corpus_smaller_than_n_cells(spark):
    """r4 review: rng.choice(replace=False) crashed when the corpus had
    fewer rows than n_cells; it now degrades to one cell per row."""
    from docling_translate_spark.operators.similarity import ivf_topk_exact

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(DIM).astype(float).tolist()) for i in range(6)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = ivf_topk_exact(emb, k=1, n_cells=16, nprobe=4).collect()
    assert len(out) > 0
    assert all(r["query_id"] != r["neighbor_id"] for r in out)


def test_ivf_centroid_replay_parity(spark, emb):
    """The oracle's DuckDB replay of the training sample (same
    `ORDER BY md5(id::VARCHAR), id LIMIT n` + same seeded k-means +
    grid snap) must produce bit-identical centroid ints to the Spark
    training path — this equality is what lets the ann_ivf gate oracle
    emit the centroid literal from the raw parquet."""
    import duckdb

    from docling_translate_spark.operators.similarity import (
        ivf_centroid_ints,
        ivf_train_rows,
    )

    spark_rows = ivf_train_rows(emb, max_train=65536)
    duck_rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM '{SF_DIR}/embeddings.parquet' "
        "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 65536"
    ).fetchall()
    assert [r[0] for r in spark_rows] == [r[0] for r in duck_rows]
    assert ivf_centroid_ints(spark_rows, 16) == ivf_centroid_ints(duck_rows, 16)


def test_ivf_exact_recall_and_no_python(spark, emb):
    """IVF with nprobe=6 of 16 cells recovers most exact top-1s and runs
    entirely JVM-side (quantize/assign/probe/rescore are all
    codegen — no Arrow batches, no Python workers in the plan)."""
    import contextlib
    import io

    from docling_translate_spark.operators.similarity import ivf_topk_exact

    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(emb, emb, k=1).collect()
    }
    out = ivf_topk_exact(emb, k=1, n_cells=16, nprobe=6)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Python" not in plan and "InPandas" not in plan
    ivf = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    hits = sum(1 for q, n in exact.items() if ivf.get(q) == n)
    recall = hits / len(exact)
    assert recall > 0.7, f"exact-IVF top-1 recall too low: {recall}"


def test_cosine_near_dup_consistency(spark, emb):
    """Every pair LSH emits must truly clear the threshold (no false
    positives by construction — rescoring is exact)."""
    pairs = cosine_near_dup_pairs(
        emb, dim=DIM, threshold=0.9, n_planes=6, n_tables=8
    ).collect()
    for r in pairs:
        assert r["cosine"] >= 0.9
        assert r["id_a"] < r["id_b"]


def test_lsh_ann_hot_bucket_is_salt_split(spark):
    """r2 verdict #3: a hot (table, bucket) must not pack into ONE
    collect_list task with an O(bucket²) GEMM. 64 identical vectors land
    in one bucket per table; with max_bucket=16 the pack must group on a
    shard key (visible in the aggregate), still emit top-k for every
    member, and stay deterministic across physical partitionings."""
    rows = [(i, [1.0, 0.5, 0.25, 0.125]) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = lsh_ann_topk(emb, dim=4, k=2, n_planes=2, n_tables=2, max_bucket=16)

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the pack aggregate keys on the shard, not just (table, bucket)
    assert "_shard" in plan, plan

    got = {r["query_id"]: r for r in out.collect()}
    assert len(got) == 64  # every member found neighbors inside its shard
    again = {
        r["query_id"]: r
        for r in lsh_ann_topk(
            emb.repartition(13), dim=4, k=2, n_planes=2, n_tables=2, max_bucket=16
        ).collect()
    }
    assert {q: (r["neighbor_id"], r["rank"]) for q, r in got.items()} == {
        q: (r["neighbor_id"], r["rank"]) for q, r in again.items()
    }


def test_lsh_ann_cap_noop_below_threshold(spark, emb):
    """With max_bucket larger than any bucket the salt split must be a
    no-op: identical results to a huge cap."""
    a = lsh_ann_topk(emb, dim=DIM, k=3, n_planes=4, n_tables=8, max_bucket=2048).collect()
    b = lsh_ann_topk(emb, dim=DIM, k=3, n_planes=4, n_tables=8, max_bucket=10**9).collect()
    key = lambda rs: sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in rs)  # noqa: E731
    assert key(a) == key(b) and a
