"""Similarity search over an embedding column (``array<float>``).

One implementation per kNN contract:

* exact cosine top-k — :func:`brute_force_topk` (JVM-side
  ``F.zip_with``/``F.aggregate`` dots against a broadcast query set,
  the exactness baseline) and :func:`brute_force_topk_blocked` (both
  sides packed into matrix blocks, one ``np.einsum`` product per block
  pair — the scale path, no broadcast hint, no driver collect);
* LSH-bucketed ANN — integer random-hyperplane signatures, one GEMM per
  bucket, exact cosines inside buckets;
* IVF ANN — :func:`ivf_topk_exact`, integer-grid cell assignment that
  any SQL engine replays, plus IVF-PQ and int8 inner-product top-k.

Every top-k ranks each query's candidates by the same rule: score
descending, ties on neighbor id, self excluded, first k kept — once per
GEMM cell in numpy (:func:`_cell_topk`) and once per query in Spark
(:func:`_rank_topk`). Embedding-cosine near-duplicate detection reuses
the same machinery with a similarity threshold instead of top-k.

The four numpy kernels (blocked top-k, exact pairs, hyperplane
signatures, LSH buckets) run in ``mapInArrow`` and share one contract:
:func:`_block` reads ids and a ``list<number>`` column into a matrix,
refusing nulls, ragged vectors and id/vector count mismatches, and
:func:`_emit` writes their rows back as one typed Arrow batch. Each
of the four drops rows with a null id or a null vector before
:func:`_block`.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _dot(a, b) -> F.Column:
    """Dot product of two array<float/double> columns, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(v) -> F.Column:
    return F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def _cosine(a, b) -> F.Column:
    """Cosine similarity of two array<float/double> columns, JVM-side.

    For per-pair hot paths prefer precomputing ``_norm`` once per vector
    BEFORE the pair join (``_dot(a, b) / (norm_a * norm_b)``) — this
    form folds both norms again for every pair."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _rank_topk(scored: DataFrame, k: int, score: str) -> DataFrame:
    """The per-query merge every Spark-side top-k ends in: ``score``
    descending, ties on ``neighbor_id``, the first ``k`` rows kept as
    ``(query_id, neighbor_id, <score>, rank)`` with an int ``rank``.
    Self-matches must already be gone from ``scored``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score, "rank")
    )


def _block(ids: pa.Array, vecs: pa.Array, dtype) -> tuple[np.ndarray, np.ndarray]:
    """int64 ids and the ``(n, dim)`` ``dtype`` matrix of a
    ``list<number>`` Arrow array: one ``flatten``, one ``reshape``. A
    null id or vector, vectors of unequal length, or an id count that is
    not the vector count raise ``ValueError`` — each would otherwise
    score some vector under another vector's id."""
    n, nulls = len(vecs), vecs.null_count + ids.null_count
    if nulls or len(ids) != n:
        raise ValueError(f"{len(ids)} ids for {n} vectors, {nulls} nulls")
    lengths = np.diff(np.asarray(vecs.offsets))
    dim = int(lengths[0]) if n else 0
    if (lengths != dim).any():
        raise ValueError(f"vector lengths {sorted(set(lengths.tolist()))} differ")
    flat = vecs.flatten().to_numpy(zero_copy_only=False)
    return (
        ids.to_numpy(zero_copy_only=False).astype(np.int64, copy=False),
        flat.astype(dtype, copy=False).reshape(n, dim),
    )


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def _cosines(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Score matrix of two unit-row matrices. ``einsum`` folds every
    cell's dot product in one fixed order whatever the matrix shapes,
    so identical vectors score bit-identically in any GEMM cell. A BLAS
    ``a @ b.T`` blocks by shape, and the last-ulp difference it leaves
    between copies of one vector outranks the neighbor-id tie-break.

    The price is GEMM speed: einsum is not cache-blocked, and on one
    core it scores a 2048×2048×64 cell about 1.1-2x and a
    1250×12500×128 cell about 2-3x slower than BLAS."""
    return np.einsum("id,jd->ij", a, b)


# score-matrix elements ranked per step of :func:`_cell_topk`: its
# temporaries stay a few MB beside the cell whatever the cell's shape
_RANK_CHUNK = 1 << 18


def _cell_topk(
    qids: np.ndarray, cids: np.ndarray, scores: np.ndarray, k: int
) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Top-``k`` rows of one GEMM cell (``scores[i, j]`` scores query
    ``qids[i]`` against candidate ``cids[j]``) under the
    :func:`_rank_topk` rule, as ``(query ids, neighbor ids, scores)``
    triples over chunks of the cell's rows.

    A row's k best non-self candidates all score at least its
    (k+1)-th best score, so a linear ``np.partition`` cuts each row to
    those candidates and every tie at the cut; only they are sorted."""
    kth = min(k, scores.shape[1] - 1)
    step = max(1, _RANK_CHUNK // scores.shape[1])
    for lo in range(0, len(qids), step):
        q, s = qids[lo : lo + step], scores[lo : lo + step]
        cut = -np.partition(-s, kth, axis=1)[:, kth]
        # `~(s < cut)` also keeps NaN scores and NaN cuts: they sort last
        r, c = np.nonzero(~(s < cut[:, None]))
        sc, nbr = s[r, c], cids[c]
        order = np.lexsort((nbr, -sc, r))
        r, nbr, sc = r[order], nbr[order], sc[order]
        keep = nbr != q[r]
        taken = np.cumsum(keep)
        before = np.concatenate(([0], taken))[np.searchsorted(r, r)]
        sel = keep & (taken - before <= k)
        yield q[r[sel]], nbr[sel], sc[sel]


_SQL_TYPES = {np.int32: "int", np.int64: "bigint", np.float64: "double"}


def _ddl(fields) -> str:
    """Spark schema of a kernel's ``(name, numpy dtype)`` output fields."""
    return ", ".join(f"{name} {_SQL_TYPES[dt]} not null" for name, dt in fields)


def _emit(parts, fields) -> pa.RecordBatch:
    """One Arrow batch of ``fields`` from ``parts``, a list of per-cell
    column tuples. Each column ends in an empty ``dtype`` chunk, so a
    batch without parts is the typed empty batch of the same path."""
    cols = list(zip(*parts)) or [()] * len(fields)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.concatenate([*chunks, np.empty(0, dt)]))
            for chunks, (_, dt) in zip(cols, fields)
        ],
        names=[name for name, _ in fields],
    )


def _topk_fields(score: str, dtype) -> tuple:
    return (("query_id", np.int64), ("neighbor_id", np.int64), (score, dtype))


def _topk_batch(cells, k: int, fields) -> pa.RecordBatch:
    """The :func:`_cell_topk` rows of every ``(qids, cids, scores)``
    cell as one batch of ``fields``. ``cells`` must be a generator, so
    each cell's score matrix is ranked and dropped before the next one
    is scored."""
    return _emit([p for q, c, s in cells for p in _cell_topk(q, c, s, k)], fields)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set, score all
    corpus rows, window top-k per query. Ties break on neighbor id."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        _cosine(F.col("qvec"), F.col("cvec")).alias("cosine"),
    )
    return _rank_topk(scored, k, "cosine")


def _pack_blocks(
    df: DataFrame,
    n_blocks: int,
    id_col: str,
    vec_col: str,
    key: str,
    ids: str,
    vecs: str,
) -> DataFrame:
    """Pack vectors into ``n_blocks`` matrix rows: one row per block
    carrying (ids, vectors) arrays. Vectors never touch the driver and
    no side is broadcast, so no worker must hold the whole corpus.
    One hash-shuffle; block size = |df|/n_blocks rows, sized so a
    block's matrix fits a task's memory (e.g. 10^6 × 128-dim float64
    ≈ 1 GB per block at any corpus size, just raise n_blocks).

    BOTH sides of a blocked GEMM must be packed: joining packed corpus
    blocks against per-row probes replicates each block once per probe
    ROW (measured: ~GBs through Arrow at 5k probes); packed × packed
    replicates each side only ``n_blocks_other`` times.

    Rows with a null id or a null vector are dropped: neither has a
    score, and ``collect_list`` skips nulls, so keeping them would pair
    the two lists out of step. They are dropped inside the aggregate,
    not by a ``filter``: the optimizer would push a filter below the
    projection that computes ``vec_col`` and compute it twice (measured
    on :func:`quantize_embeddings` output). A block left with no rows
    is dropped too."""
    keep = F.col("_pid").isNotNull() & F.col("_pvec").isNotNull()
    return (
        df.select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
            .cast("int")
            .alias(key),
            F.col(id_col).alias("_pid"),
            F.col(vec_col).alias("_pvec"),
        )
        .groupBy(key)
        .agg(
            F.collect_list(F.when(keep, F.col("_pid"))).alias(ids),
            F.collect_list(F.when(keep, F.col("_pvec"))).alias(vecs),
        )
        .filter(F.size(ids) > 0)
    )


def _packed_cells(rb: pa.RecordBatch, sides: str, dtype):
    """Per row of a batch of cross-joined :func:`_pack_blocks` blocks,
    the :func:`_block` ``(ids, matrix)`` of each side ``s`` in
    ``sides`` (columns ``<s>ids`` and ``<s>vecs``), one row at a time."""
    cols = [(rb.column(f"{s}ids"), rb.column(f"{s}vecs")) for s in sides]
    for i in range(rb.num_rows):
        yield [_block(ids[i].values, vecs[i].values, dtype) for ids, vecs in cols]


def _blocked_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_blocks: int,
    id_col: str,
    vec_col: str,
    score: str,
    dtype,
    cell_scores,
) -> DataFrame:
    """Pack both sides (:func:`_pack_blocks`), score each (query-group,
    corpus-block) cell with ``cell_scores(qmat, cmat)`` (one GEMM over
    ``dtype`` matrices, ``dtype`` scores), keep its :func:`_cell_topk`
    rows, then merge per query — a bounded window over at most
    ``n_blocks * k`` candidates."""
    cpacked = _pack_blocks(corpus, n_blocks, id_col, vec_col, "cb", "cids", "cvecs")
    qpacked = _pack_blocks(queries, n_blocks, id_col, vec_col, "qb", "qids", "qvecs")
    fields = _topk_fields(score, dtype)

    def block_topk(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            # cells must stream: a list would hold every cell's score
            # matrix at once, not one
            cells = (
                (qids, cids, cell_scores(qmat, cmat))
                for (qids, qmat), (cids, cmat) in _packed_cells(rb, "qc", dtype)
            )
            yield _topk_batch(cells, k, fields)

    scored = qpacked.crossJoin(cpacked).mapInArrow(block_topk, _ddl(fields))
    return _rank_topk(scored, k, score)


def brute_force_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for corpora too big to broadcast: block-pack
    both sides (executor-side), cross-join query groups × corpus blocks,
    score each cell with one ``np.einsum`` product (:func:`_cosines`),
    then a window merge of per-cell top-k.

    Same neighbors and ranks as :func:`brute_force_topk` (ties break on
    neighbor id, at any ``n_blocks`` and partitioning — see
    :func:`_cosines`) with no driver collect and no broadcast hint (the
    planner may still broadcast a small packed side into the cross
    join, as it does at sf0.001). Data movement
    is (|Q| + |C|) × n_blocks vectors into the n_blocks² GEMM cells plus
    |Q| × n_blocks × k candidate rows into the merge — each side
    replicated n_blocks times, never per-row. This is the exact-kNN
    recipe that survives a 10^9-vector corpus on a 1000-executor
    cluster. A task holds one cell's score matrix at a time; the
    tie-exact score (:func:`_cosines`) costs GEMM speed.
    """
    return _blocked_topk(
        corpus, queries, k, n_blocks, id_col, vec_col, "cosine", np.float64,
        lambda qmat, cmat: _cosines(_unit_rows(qmat), _unit_rows(cmat)),
    )


def cosine_pairs_exact(
    corpus: DataFrame,
    threshold: float,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold) via the same block-pack pattern — the exactness oracle for
    :func:`cosine_near_dup_pairs`'s LSH approximation, and the correct
    tool when a missed near-dup is unacceptable (eval-set decontamination).

    All-pairs work is |corpus|²/2 dot products but distributed: both
    sides are block-packed and only the upper triangle of block cells is
    joined; each cell does one GEMM and one ``np.nonzero`` of its
    threshold mask, and only pairs over threshold leave the task. No
    broadcast, no driver collect. Rows with a null vector are dropped.
    """
    apacked = _pack_blocks(corpus, n_blocks, id_col, vec_col, "ab", "aids", "avecs")
    bpacked = _pack_blocks(corpus, n_blocks, id_col, vec_col, "bb", "bids", "bvecs")
    # every unordered block pair exactly once (the id_a < id_b filter
    # below resolves orientation inside the diagonal cells)
    joined = apacked.crossJoin(bpacked).filter(F.col("ab") <= F.col("bb"))

    fields = (("id_a", np.int64), ("id_b", np.int64), ("cosine", np.float64))

    def block_pairs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            diag = rb.column("ab").to_numpy() == rb.column("bb").to_numpy()
            parts = []
            for on_diag, ((aids, amat), (bids, bmat)) in zip(
                diag, _packed_cells(rb, "ab", np.float64)
            ):
                sims = _cosines(_unit_rows(amat), _unit_rows(bmat))
                hit = sims >= threshold
                if on_diag:
                    # both sides are the same block: the strict triangle
                    # picks each unordered pair once
                    hit &= aids[:, None] < bids[None, :]
                # an off-diagonal cell holds each cross-block pair once
                # (ab < bb kept one cell of the two) in either id order;
                # equal ids can't span two blocks
                i, j = np.nonzero(hit)
                a, b = aids[i], bids[j]
                parts.append((np.minimum(a, b), np.maximum(a, b), sims[i, j]))
            yield _emit(parts, fields)

    return joined.mapInArrow(block_pairs, _ddl(fields))


# embedding quantization scale for LSH bucket assignment: bits come from
# INTEGER dot products (floor(x*1024 + 0.5) per component × int8-range
# planes), so bucket membership is exact and any SQL engine reproduces
# it bit-for-bit — float GEMM sign bits depend on summation order near
# zero, which would make the bucket join un-oracle-able
_LSH_QUANT = 1024.0


def lsh_planes(dim: int, n_planes: int, n_tables: int, seed: int = 11) -> np.ndarray:
    """Integer hyperplanes in [-127, 127], seeded — shared by the kernel
    and the SQL oracle (inlined as literals there)."""
    rng = np.random.RandomState(seed)
    return rng.randint(-127, 128, size=(dim, n_planes * n_tables)).astype(np.int64)


def hyperplane_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
) -> DataFrame:
    """Multi-table random-hyperplane LSH: one (table, bucket) row per
    vector per table (one narrow pass).

    Multi-table is what makes recall workable for low-cosine neighbors:
    per-table collision prob for angle θ is (1-θ/π)^n_planes; L
    independent tables union to 1-(1-p)^L. numpy matmul over the whole
    Arrow batch — thousands of vectors per BLAS call, no per-row Python.
    Planes and embeddings are integer-quantized (:data:`_LSH_QUANT`) so
    bucket assignment is exact integer arithmetic. Rows with a null id
    or a null vector get no signature: the kernel drops them before
    :func:`_block`, so :func:`lsh_ann_topk` and
    :func:`cosine_near_dup_pairs` never pair them. They are dropped in
    the kernel, not by a ``filter``, for the reason given in
    :func:`_pack_blocks`.
    """
    planes = lsh_planes(dim, n_planes, n_tables, seed)
    fields = (("sid", np.int64), ("table", np.int32), ("bucket", np.int64))
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    tables = np.arange(n_tables, dtype=np.int32)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.column(0).null_count or rb.column(1).null_count:
                rb = rb.filter(pc.and_(rb.column(0).is_valid(), rb.column(1).is_valid()))
            if not rb.num_rows:
                continue
            sids, mat = _block(rb.column(0), rb.column(1), np.float64)
            q = np.floor(mat * _LSH_QUANT + 0.5).astype(np.int64)
            bits = (q @ planes) > 0  # (rows, planes*tables), exact int dots
            bits = bits.reshape(len(sids), n_tables, n_planes)
            buckets = (bits.astype(np.int64) * weights).sum(axis=2)  # (rows, tables)
            cols = np.repeat(sids, n_tables), np.tile(tables, len(sids)), buckets.ravel()
            yield _emit([cols], fields)

    return df.select(F.col(id_col).cast("long"), vec_col).mapInArrow(gen, _ddl(fields))


def _rescore_pairs(
    corpus: DataFrame,
    pairs: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact top-k rescoring of distinct candidate ``(query_id,
    neighbor_id)`` pairs with NO driver collect and NO corpus broadcast —
    the piece that lets LSH/IVF ANN survive a corpus that outgrows any
    single machine.

    Fully JVM-side: two vector-attach equi-joins (plain shuffle joins —
    AQE splits hot keys), one codegen cosine per pair, and a per-query
    window top-k. Data moved is exactly one vector copy per candidate
    pair, never the whole corpus per executor. Measured faster than an Arrow gather +
    per-query GEMM (the per-candidate struct unpacking in Python costs
    more than the JVM fold saves) with zero Python in the path.
    """
    qvec = corpus.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_nvec"),
        _norm(F.col(vec_col)).alias("_nn"),
    )
    scored = (
        pairs.join(qvec, "query_id")
        .join(nvec, "neighbor_id")
        # norms were folded once per vector above, not once per pair
        .withColumn(
            "cosine",
            _dot(F.col("_qvec"), F.col("_nvec")) / (F.col("_qn") * F.col("_nn")),
        )
    )
    return _rank_topk(scored, k, "cosine")


def lsh_ann_topk(
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    max_bucket: int = 2048,
) -> DataFrame:
    """Approximate top-k neighbors via per-bucket GEMM: each (table,
    bucket) packs its members once (``collect_list`` — one shuffle, one
    vector copy per table membership), scores all within-bucket pairs in
    one :func:`_cosines` (``np.einsum``) product, and emits only
    per-member top-k rows; a cheap global merge (max-dedup + window)
    finishes. No driver collect, no broadcast hint, and — critically —
    candidate PAIRS are never
    materialized or shuffled: on a dense corpus the bucket self-join
    form shuffles O(Σ bucket²) pair rows, which measured 4-5x slower.

    Per-(bucket, shard) top-k pruning is exact: if a neighbor is
    outranked by k members inside every shard it shares with the query,
    those members are also candidates and outrank it globally.

    Recall rises with more tables / fewer planes; candidate volume rises
    with bucket size — tune to corpus density. Hot buckets — the skew
    case (one task and an O(bucket²) GEMM per bucket) — are BOUNDED:
    buckets above ``max_bucket`` members are salt-split into
    ``ceil(size / max_bucket)`` deterministic md5-keyed shards, each
    packed and scored independently (r2 verdict #3). Within a split
    bucket, cross-shard pairs are lost in that table only — the other
    ``n_tables - 1`` tables still catch them, which is the same recall
    argument LSH already rests on. The split is content-keyed (md5 of
    the id), so results are reproducible at any cluster size. Buckets
    are scored one at a time, with the tie-exact but slower-than-BLAS
    :func:`_cosines`. Bucket sizes come from a groupBy over the slim
    (table, bucket) signature rows before the vectors attach, so the
    only partitions that carry vectors are the (table, bucket, shard)
    packs, each capped at ``max_bucket`` members.
    """
    # cached: sizes + the pack both read it, and the signature kernel
    # must run once (see dedup.py's module-level caching note)
    sig = hyperplane_signatures(
        corpus, dim, n_planes, n_tables, id_col, vec_col, seed
    ).cache()
    vec = corpus.select(F.col(id_col).alias("sid"), F.col(vec_col).alias("_v"))
    # Bucket sizes on SLIM (table, bucket) keys BEFORE vectors attach
    # (r3 verdict #5): the old window count ran after the `_v` join, so
    # a mega-bucket's full vector payload colocated in ONE window task.
    # As a groupBy over ~24-byte sig rows the hot key collapses in the
    # map-side partial; the size join-back also moves slim rows only,
    # and the vector join keys on sid, which spreads a hot bucket across
    # tasks. The shard key is pure column arithmetic (md5 of the id),
    # deterministic at any cluster size. The pack's exchange then keys
    # on (table, bucket, _shard) — already split. The quadratic GEMM is
    # what the cap bounds; every per-task payload here is linear and
    # bounded by max_bucket.
    from docling_translate_spark.functions.hashing import md5_prefix60

    sizes = sig.groupBy("table", "bucket").agg(F.count("*").alias("_bsize"))
    shard = F.pmod(
        md5_prefix60(F.col("sid").cast("string")),
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.col("_bsize") / F.lit(int(max_bucket))).cast("long"),
        ),
    )
    packed = (
        sig.join(sizes, ["table", "bucket"])
        .withColumn("_shard", shard)
        .join(vec, "sid")
        .groupBy("table", "bucket", "_shard")
        .agg(F.collect_list(F.struct("sid", "_v")).alias("_members"))
    )

    fields = _topk_fields("cosine", np.float64)

    def bucket_cells(buckets: pa.ListArray):
        # a generator, like _blocked_topk's cells: one bucket's score
        # matrix is alive at a time
        for members in buckets:
            if len(members) < 2:
                continue
            # scores do not depend on collect_list's member order
            # (see _cosines), so ties rank alike at any partitioning
            ids, mat = _block(*members.values.flatten(), np.float64)
            mat = _unit_rows(mat)
            yield ids, ids, _cosines(mat, mat)

    def bucket_topk(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            yield _topk_batch(bucket_cells(rb.column("_members")), k, fields)

    per_bucket = packed.mapInArrow(bucket_topk, _ddl(fields))
    # a pair shared by several buckets arrives once per bucket, with
    # the same score every time; one row per pair goes to the merge
    merged = per_bucket.groupBy("query_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine")
    )
    return _rank_topk(merged, k, "cosine")


def _kmeans(mat: np.ndarray, n_cells: int, iters: int = 10, seed: int = 17) -> np.ndarray:
    """Deterministic spherical k-means (numpy): seeded init, fixed
    iterations. Rows of ``mat`` must be L2-normalized."""
    rng = np.random.RandomState(seed)
    # a corpus smaller than n_cells degrades to one cell per row instead
    # of crashing rng.choice(replace=False)
    n_cells = min(n_cells, len(mat))
    centroids = mat[rng.choice(len(mat), size=n_cells, replace=False)].copy()
    for _ in range(iters):
        assign = (mat @ centroids.T).argmax(axis=1)
        for c in range(n_cells):
            members = mat[assign == c]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    centroids[c] = v / n
    return centroids


# centroid-coordinate quantization grid for the EXACT IVF assignment
# path: floor(x * 2^20 + 0.5) per component — a float32 value times a
# power-of-two scale is exact, so the snapped integer is bit-identical
# in any engine, and the BIGINT dot products that decide cell membership
# carry no float-summation-order ambiguity (same reasoning as _LSH_QUANT)
IVF_GRID = 1 << 20


def ivf_train_rows(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train: int = 65536,
) -> list:
    """The deterministic bounded k-means training sample, as rows:
    hash-ordered take of ``max_train`` (id, vector) pairs — TakeOrdered,
    never a full sort or a full collect. Shared with the SQL oracle,
    which replays the identical ``ORDER BY md5(id::VARCHAR), id LIMIT n``
    over the same parquet (md5-hex ordering is engine-portable)."""
    return (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(max_train)
        .collect()
    )


def ivf_centroid_ints(
    rows: list,
    n_cells: int,
    seed: int = 17,
    iters: int = 10,
    grid: int = IVF_GRID,
) -> list[list[int]]:
    """Train spherical k-means on (id, vector) ``rows`` (already in the
    deterministic hash order) and snap each centroid coordinate onto the
    integer grid. Same rows + seed ⇒ bit-identical ints on any host, so
    a SQL oracle can replay cell assignment from the emitted literal.
    Rows with a null id or a null vector are dropped: a null vector has
    no direction to train on."""
    vecs = [r[1] for r in rows if r[0] is not None and r[1] is not None]
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cent = _kmeans(mat, n_cells, iters=iters, seed=seed)
    return [[int(np.floor(c * grid + 0.5)) for c in row] for row in cent]


def ivf_ranked_cells(
    corpus: DataFrame,
    centroid_ints: list[list[int]],
    grid: int = IVF_GRID,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The shared exact integer cell-assignment projection: one
    zero-shuffle codegen select producing ``_vid`` (the id), ``_qe``
    (the grid-quantized BIGINT vector) and ``_cells`` — the (−dot,
    cell) structs for every centroid, lexicographically sorted so
    ``_cells[0]`` is the argmax-dot assignment (ties to the lower cell
    id) and the first nprobe entries are the probe order.

    This is THE one implementation of the SQL-replayable assignment
    recipe — :func:`ivf_topk_exact` and
    :mod:`~docling_translate_spark.operators.semdedup` both build on
    it, so a fix here (e.g. the a3c1923 grid-mismatch fix) reaches
    every consumer and the shared centroid literal keeps replaying all
    of them. ``grid`` must be the grid ``centroid_ints`` were snapped
    with (see the caller notes in :func:`ivf_topk_exact`).

    A null vector quantizes to a null ``_qe`` and gets null ``_cells``:
    no cell and no probes, so every consumer's cell join drops it like
    the other vector kernels do."""
    quant = F.transform(
        F.col(vec_col),
        lambda x: F.floor(
            x.cast("double") * F.lit(float(grid)) + F.lit(0.5)
        ).cast("long"),
    )
    base = corpus.select(F.col(id_col).alias("_vid"), quant.alias("_qe"))

    def cell_dot(cvec: list[int]) -> F.Column:
        lit = F.array(*[F.lit(v).cast("long") for v in cvec])
        return F.aggregate(
            F.zip_with(F.col("_qe"), lit, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    (-cell_dot(c)).alias("ns"),
                    F.lit(j).cast("int").alias("cell"),
                )
                for j, c in enumerate(centroid_ints)
            ]
        )
    )
    return base.select(
        "_vid", "_qe", F.when(F.col("_qe").isNotNull(), ranked).alias("_cells")
    )


def ivf_topk_exact(
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 17,
    max_train: int = 65536,
    centroid_ints: list[list[int]] | None = None,
    grid: int = IVF_GRID,
) -> DataFrame:
    """IVF approximate top-k with EXACT integer cell assignment: k-means
    coarse quantizer → inverted cell lists → probe the ``nprobe``
    nearest cells per query → exact rescore.

    Training takes a bounded hash-ordered sample (:func:`ivf_train_rows`
    — the driver never sees more than ``max_train`` rows) through
    seeded float64 spherical k-means (:func:`ivf_centroid_ints`), but
    assignment and probing run on the integer grid: each embedding
    quantizes to BIGINTs via one codegen ``transform``
    (``floor(x·2^20 + 0.5)``, exact), and all ``n_cells`` centroid dots
    are computed in ONE zero-shuffle JVM projection against literal
    integer arrays — no Python, no join, and no float-summation-order
    ambiguity, so any SQL engine reproduces the identical cells/probes
    bit-for-bit. The per-row L2 norm divides all cells equally, so the
    integer-dot argmax equals cosine assignment against the (quantized)
    unit-norm centroids; ties break to the lower cell id.

    Scale shape: query↔candidate pairing is an equi-join on small int
    cell ids (AQE splits hot cells) and :func:`_rescore_pairs` never
    collects the corpus. The literal centroid projection is sized for
    moderate ``n_cells`` — at most a few hundred cells, since codegen
    cost grows linearly with cells × dim; a web-scale nlist (√N cells)
    is outside this function's envelope.
    """
    # ``grid`` must be the grid the centroid ints were snapped with —
    # when we train here the default threads straight through; a caller
    # passing pre-built ``centroid_ints`` from :func:`ivf_centroid_ints`
    # with a custom grid passes the same value, otherwise embeddings
    # quantized on one grid would be dotted against centroids on
    # another (silently skewed cells, no error to catch it)
    if centroid_ints is None:
        rows = ivf_train_rows(corpus, id_col, vec_col, max_train)
        centroid_ints = ivf_centroid_ints(rows, n_cells, seed=seed, grid=grid)
    n_cells = len(centroid_ints)
    nprobe = min(nprobe, n_cells)

    cells = ivf_ranked_cells(corpus, centroid_ints, grid, id_col, vec_col)

    # a null vector has null ``_cells``: it joins no cell and probes none
    # (a null id fails the ``qid != sid`` filter below)
    inv = cells.select(
        F.col("_vid").alias("sid"), F.col("_cells")[0]["cell"].alias("cell")
    )
    probes = cells.select(
        F.col("_vid").alias("qid"),
        F.explode(
            F.transform(F.slice("_cells", 1, nprobe), lambda s: s["cell"])
        ).alias("cell"),
    )
    cand = (
        probes.join(inv, on="cell")
        .filter(F.col("qid") != F.col("sid"))
        .select(
            F.col("qid").alias("query_id"), F.col("sid").alias("neighbor_id")
        )
        .dropDuplicates()
    )
    return _rescore_pairs(corpus, cand, k, id_col, vec_col)


def _kmeans_l2(mat: np.ndarray, k: int, iters: int = 10, seed: int = 23) -> np.ndarray:
    """Deterministic plain (L2) k-means — the PQ sub-codebook trainer
    (PQ minimizes per-subspace L2 reconstruction error, so unlike the
    coarse quantizer this one is NOT spherical). Seeded init, fixed
    iterations, empty clusters keep their previous centroid. The
    distance argmin uses the |m|²−2mc+|c|² expansion — |m|² is constant
    per row, so argmin over (−2mc+|c|²) avoids the n×k×d temp."""
    rng = np.random.RandomState(seed)
    k = min(k, len(mat))
    cent = mat[rng.choice(len(mat), size=k, replace=False)].copy()
    for _ in range(iters):
        cost = -2.0 * (mat @ cent.T) + (cent * cent).sum(axis=1)[None, :]
        assign = cost.argmin(axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def pq_codebook_ints(
    rows: list,
    m: int = 8,
    ks: int = 16,
    seed: int = 23,
    iters: int = 10,
    grid: int = IVF_GRID,
) -> list[list[list[int]]]:
    """Train the PQ sub-codebooks (Jégou et al. 2011, "Product
    quantization for nearest neighbor search") on the deterministic
    bounded sample and snap them to the integer grid: ``out[j][k]`` is
    subspace ``j``'s ``k``-th centroid as ``d/m`` BIGINTs. Same
    rows + seeds ⇒ bit-identical ints on any host, so a SQL oracle
    replays encoding and ADC scoring from the emitted literal — the
    ``ivf_centroid_ints`` discipline, per subspace, null rows dropped
    alike."""
    vecs = [r[1] for r in rows if r[0] is not None and r[1] is not None]
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    out = []
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        cent = _kmeans_l2(sub, ks, iters=iters, seed=seed + j)
        out.append([[int(np.floor(c * grid + 0.5)) for c in row] for row in cent])
    return out


def ivfpq_topk(
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 17,
    pq_seed: int = 23,
    max_train: int = 65536,
    centroid_ints: list[list[int]] | None = None,
    codebook_ints: list[list[list[int]]] | None = None,
    grid: int = IVF_GRID,
) -> DataFrame:
    """FAISS-style IVF-PQ approximate top-k — coarse cells bound the
    candidate set, product-quantization codes + asymmetric distance
    computation (ADC) score it, all in exact integers so any SQL engine
    replays the result bit-for-bit.

    The three stages, each the engine's established idiom:

    - **Coarse**: the shared :func:`ivf_ranked_cells` assignment — the
      candidate equi-join (query probes × inverted cells) is identical
      to :func:`ivf_topk_exact`'s.
    - **Encode**: each corpus vector's subspace ``j`` takes the argmin
      L2 codebook entry, computed as BIGINT ``|c|² − 2·⟨sub,c⟩`` (the
      per-vector ``|sub|²`` term is constant within the argmin), ties
      to the lower code — one zero-shuffle codegen projection, m codes
      per vector (the m×log₂ks-bit compressed representation that makes
      billion-scale corpora fit in memory in the real system).
    - **ADC**: each query precomputes its m×ks lookup table of integer
      sub-dots in the same projection shape; a candidate's score is the
      m-term sum ``Σ_j LUT_j[code_j]``. The scan is shaped the way the
      real system runs it — codes pack per CELL (collect_list, bounded
      by the nlist ≈ √N sizing rule like ``_pack_blocks`` blocks), the
      join is one row per (query, probe cell), and the LUT is applied
      row-locally to every member of the packed list — so the LUT
      moves once per probed cell, not once per candidate pair (the
      pair-join formulation ships |LUT| ≈ m·ks·8 B per candidate; this
      ships it per cell and moves only m small ints per member).
      Per-cell local top-(k+1) (``array_sort`` + ``slice``; +1 absorbs
      the self-match) then a final per-query merge window over the
      ≤ nprobe·(k+1) survivors — both bounded.

    Scores approximate the INNER PRODUCT (ADC-IP): exact for the
    quantized-reconstruction, approximate for the true vectors — the
    standard PQ trade. Recall against exact search is pytest-pinned;
    the driver gate value-checks the implementation, not the recall.

    Columns: ``query_id``, ``neighbor_id``, ``adc`` (BIGINT),
    ``rank`` (BIGINT). Every vector is its own query (self excluded).
    """
    rows = None
    if centroid_ints is None or codebook_ints is None:
        rows = ivf_train_rows(corpus, id_col, vec_col, max_train)
    if centroid_ints is None:
        centroid_ints = ivf_centroid_ints(rows, n_cells, seed=seed, grid=grid)
    if codebook_ints is None:
        codebook_ints = pq_codebook_ints(rows, m=m, ks=ks, seed=pq_seed, grid=grid)
    n_cells = len(centroid_ints)
    nprobe = min(nprobe, n_cells)
    m = len(codebook_ints)
    ks = len(codebook_ints[0])
    dsub = len(codebook_ints[0][0])

    cells = ivf_ranked_cells(corpus, centroid_ints, grid, id_col, vec_col).cache()
    probes = cells.select(
        F.col("_vid").alias("qid"),
        F.explode(
            F.transform(F.slice("_cells", 1, nprobe), lambda s: s["cell"])
        ).alias("cell"),
    )

    def sub_dot(j: int, cvec: list[int]) -> F.Column:
        lit = F.array(*[F.lit(v).cast("long") for v in cvec])
        sub = F.slice("_qe", j * dsub + 1, dsub)
        return F.aggregate(
            F.zip_with(sub, lit, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    # the m×ks sub-dots are computed ONCE per vector and cached: they
    # ARE the query's ADC lookup table, and the encoding argmin is
    # derivable from the same values (cost = |c|² − 2·dot) — building
    # codes and LUTs from one projection halves the codegen'd
    # expression tree vs computing each dot twice
    duts = cells.select(
        "_vid",
        F.col("_cells")[0]["cell"].alias("cell"),
        F.array(
            *[
                F.array(*[sub_dot(j, codebook_ints[j][kk]) for kk in range(ks)])
                for j in range(m)
            ]
        ).alias("_duts"),
    ).cache()

    cc_lits = [
        F.array(
            *[
                F.lit(sum(v * v for v in cvec)).cast("long")
                for cvec in codebook_ints[j]
            ]
        )
        for j in range(m)
    ]

    def code_for(j: int) -> F.Column:
        ranked = F.array_sort(
            F.transform(
                F.element_at(F.col("_duts"), j + 1),
                lambda d, i: F.struct(
                    (
                        F.element_at(cc_lits[j], i + F.lit(1)) - 2 * d
                    ).alias("cost"),
                    i.cast("int").alias("k"),
                ),
            )
        )
        return ranked[0]["k"]

    # inverted lists carry (sid, codes) packed per cell — the m small
    # ints per member are ALL that represents a corpus vector from here
    packed = (
        duts.select(
            "cell",
            F.struct(
                F.col("_vid").alias("sid"),
                F.array(*[code_for(j) for j in range(m)]).alias("codes"),
            ).alias("_member"),
        )
        .groupBy("cell")
        .agg(F.collect_list("_member").alias("_members"))
    )
    luts = duts.select(
        F.col("_vid").alias("qid"), F.col("_duts").alias("_luts")
    )

    # one row per (query, probed cell): apply the query's LUT to every
    # member of the packed list row-locally, keep the local top-(k+1)
    # ((−adc, sid) struct sort; +1 absorbs a possible self-match)
    member_adc = F.transform(
        F.col("_members"),
        lambda mm: F.struct(
            (
                -F.aggregate(
                    F.zip_with(
                        F.col("_luts"),
                        mm["codes"],
                        lambda lut, c: F.element_at(lut, c + F.lit(1)),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
            ).alias("nadc"),
            mm["sid"].alias("sid"),
        ),
    )
    local = (
        probes.join(packed, "cell")
        .join(luts, "qid")
        .select(
            "qid",
            F.explode(
                F.slice(F.array_sort(member_adc), 1, k + 1)
            ).alias("_m"),
        )
        .filter(F.col("_m")["sid"] != F.col("qid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("_m")["sid"].alias("neighbor_id"),
            (-F.col("_m")["nadc"]).alias("adc"),
        )
    )
    # final merge over the <= nprobe*(k+1) survivors per query — a
    # vector's cell is unique, so no pair can arrive twice
    return _rank_topk(local, k, "adc").withColumn(
        "rank", F.col("rank").cast("long")
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 10,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold`` via LSH
    buckets (near-dups almost surely collide at high similarity).

    Scale shape: the bucket self-join runs over slim (id, table, bucket)
    rows — vectors attach AFTER pair dedup, one copy per distinct
    candidate pair. Carrying vectors through the multi-table join would
    replicate each vector once per (table, bucket-mate), ~n_tables×
    heavier through the shuffle for the same output.
    """
    sig = hyperplane_signatures(corpus, dim, n_planes, n_tables, id_col, vec_col, seed)
    a = sig.select(F.col("sid").alias("id_a"), "table", "bucket")
    b = sig.select(F.col("sid").alias("id_b"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    va = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    vb = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        # norms folded once per vector, not once per pair
        .withColumn(
            "cosine",
            _dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# --------------------------------------------------------------------
# Int8 scalar quantization + exact-integer inner-product top-k
#
# At 10^9+ vectors the float32 corpus is the ANN cost driver: 64-dim
# float32 = 256 B/vector of scan, shuffle, and GEMM traffic. Symmetric
# per-vector int8 quantization (the FAISS SQ8 recipe) cuts that 4x
# with bounded error, and — the property this engine cares about —
# makes downstream scoring EXACT INTEGER arithmetic: quantized values
# are integers in [-127, 127], so every product and partial sum of a
# dot product is an integer below 2^53, meaning even a float64 GEMM
# computes it exactly and any engine agrees bit-for-bit. Quantization
# itself is also engine-exact: amax = max(|x_i|) involves no
# accumulation (float comparison is exact), and floor(127*x/amax+0.5)
# is one IEEE multiply + divide + floor — no order-dependent sums
# anywhere, unlike L2 normalization (which is why the float cosine
# operators emit no value-hashed floats while this one can emit its
# scores straight to the gate).
# --------------------------------------------------------------------

QUANT_LEVELS = 127  # symmetric int8 grid: q in [-QUANT_LEVELS, QUANT_LEVELS]


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id_col, qvec array<bigint>, scale double)``: symmetric
    per-vector int8 quantization q_i = floor(127 * x_i / amax + 0.5)
    (round-half-up — floor is tie-deterministic on every engine,
    unlike round()'s HALF_UP vs banker's drift). ``scale`` = amax/127
    dequantizes (x ≈ q * scale). All-zero vectors quantize to all
    zeros with scale 0; NULL vectors pass through as NULL. Zero
    shuffle — one codegen projection."""
    amax = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    with_amax = df.select(
        F.col(id_col), F.col(vec_col).alias("_v"), amax.alias("_amax")
    )
    lv = F.lit(float(QUANT_LEVELS))
    q = F.when(
        F.col("_amax") == 0.0,
        F.transform(F.col("_v"), lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            F.col("_v"),
            lambda x: F.floor(
                lv * x.cast("double") / F.col("_amax") + F.lit(0.5)
            ).cast("long"),
        )
    )
    return with_amax.select(
        id_col,
        q.alias("qvec"),
        (F.col("_amax") / lv).alias("scale"),
    )


def quantized_ip_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by EXACT integer inner product of int8-quantized vectors
    (maximum-inner-product search over the compressed corpus; for
    cosine semantics feed pre-normalized vectors). Same blocked
    packed×packed GEMM shape as :func:`brute_force_topk_blocked` — no
    broadcast hint, no driver collect — but the scores are exact BIGINTs
    (|dot| ≤ 127² · dim < 2^53 through dim ~5·10^11), so ties and
    ranks are engine-reproducible and the gate can value-hash ``qdot``
    directly. Self-matches excluded; ties break on neighbor id."""
    return _blocked_topk(
        quantize_embeddings(corpus, id_col, vec_col),
        quantize_embeddings(queries, id_col, vec_col),
        k, n_blocks, id_col, "qvec", "qdot", np.int64,
        # int64 GEMM: exact
        lambda qmat, cmat: qmat @ cmat.T,
    ).withColumn("rank", F.col("rank").cast("long"))


# --------------------------------------------------------------------
# Per-group embedding-centroid inner products (semantic source map):
# the embedding-space complement of the shingle overlap report — which
# sources SAY similar things, even with disjoint vocabulary (mirror
# sites after translation, paraphrase farms, topic-duplicated feeds).
#
# All-integer discipline end to end so the gate can value-hash it:
# per-element quantization q = floor(x·1024 + 0.5) (the LSH-oracle
# grid), per-(group, dim) BIGINT sums with map-side combine (a
# 10^9-doc group collapses per map task), then the INTEGER MILLI-MEAN
# m = S·1000 div n per dimension — bounded by scale·1000 (~2^20)
# regardless of corpus size, so every pairwise dot is an exact BIGINT
# far from overflow (dim·2^40 « 2^63) at ANY group cardinality. The
# one lossy step (milli-mean rounding) is deterministic integer
# arithmetic, identical in any engine. Cosine needs a sqrt — left to
# the consumer: emit dot_ab with both self-dots instead.
#
# Scale shape: one narrow posexplode (corpus×dim rows, never
# persisted), one agg-shaped shuffle, then everything downstream is
# groups×dim-sized (the a<b join is a broadcast-sized self-join). The
# per-group sums are not cached either: the plan as built reads the
# embeddings once per consumer (six scans in the gate query's plan).
# At run time AQE reuses the exchanges that come out identical, so the
# scan runs once, but the counts branch, pruned to a count-only
# aggregate, re-runs the posexplode and its shuffle.
# --------------------------------------------------------------------


def group_centroid_dots(
    df: DataFrame,
    group_col: str = "source",
    emb_col: str = "embedding",
    scale: int = 1024,
) -> DataFrame:
    """Pairwise centroid inner products between groups:
    ``(source_a, source_b, n_a, n_b, dot_ab, dot_aa, dot_bb)`` for
    every group pair (``source_a < source_b``), all BIGINT/STRING.
    ``cosine(a,b) = dot_ab / sqrt(dot_aa·dot_bb)`` consumer-side.
    NULL groups and NULL embeddings are excluded; ragged dimensions
    participate per-dim (missing trailing dims contribute nothing —
    callers should feed fixed-dim embeddings)."""
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    q = df.filter(
        F.col(group_col).isNotNull() & F.col(emb_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.posexplode(emb_col).alias("_d", "_x"),
    ).select(
        "_g",
        "_d",
        F.floor(F.col("_x").cast("double") * scale + F.lit(0.5))
        .cast("long")
        .alias("_q"),
    )
    sums = q.groupBy("_g", "_d").agg(
        F.sum("_q").alias("_s"), F.count("*").alias("_n")
    )
    # milli-mean per dimension: exact integer, bounded by scale·1000
    means = sums.select(
        "_g",
        "_d",
        F.expr("CAST(_s * 1000 div _n AS BIGINT)").alias("_m"),
        "_n",
    )
    counts = means.groupBy("_g").agg(F.max("_n").cast("long").alias("_cnt"))
    self_dots = means.groupBy("_g").agg(
        F.sum(F.col("_m") * F.col("_m")).cast("long").alias("_dself")
    )
    a = means.select(
        F.col("_g").alias("source_a"), "_d", F.col("_m").alias("_ma")
    )
    b = means.select(
        F.col("_g").alias("source_b"), "_d", F.col("_m").alias("_mb")
    )
    dots = (
        a.join(b, "_d")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("_ma") * F.col("_mb")).cast("long").alias("dot_ab"))
    )
    ca = counts.select(F.col("_g").alias("source_a"), F.col("_cnt").alias("n_a"))
    cb = counts.select(F.col("_g").alias("source_b"), F.col("_cnt").alias("n_b"))
    da = self_dots.select(
        F.col("_g").alias("source_a"), F.col("_dself").alias("dot_aa")
    )
    db = self_dots.select(
        F.col("_g").alias("source_b"), F.col("_dself").alias("dot_bb")
    )
    return (
        dots.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .join(F.broadcast(da), "source_a")
        .join(F.broadcast(db), "source_b")
        .select(
            "source_a", "source_b", "n_a", "n_b", "dot_ab", "dot_aa", "dot_bb"
        )
    )
