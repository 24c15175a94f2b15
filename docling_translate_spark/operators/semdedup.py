"""SemDeDup — semantic deduplication by cluster-then-prune (Abbas et
al. 2023, "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication").

The recipe the paper runs over LAION/C4 embeddings: k-means-cluster the
corpus embeddings, compute pairwise cosine similarity WITHIN each
cluster only (never all-pairs across the corpus), and from every set of
semantic duplicates (pairs over a cosine threshold) keep one exemplar —
the paper keeps a low-centroid-similarity member so the survivors cover
the cluster's periphery, not its dense core.

This engine's variant is built to be bit-replayable by any SQL engine
(the house discipline — see ``ivf_topk_exact``):

- **Training** reuses the IVF recipe unchanged: bounded hash-ordered
  sample (``ivf_train_rows`` — TakeOrdered, never a full collect) →
  seeded float64 spherical k-means → centroid coordinates snapped onto
  the 2^20 integer grid (``ivf_centroid_ints``). Only ``_kmeans``
  itself stays pytest-pinned; everything downstream of the emitted
  centroid ints is exact.
- **Assignment** quantizes each embedding to BIGINTs (``floor(x·2^20 +
  0.5)``, exact) and takes the argmax integer centroid dot in ONE
  zero-shuffle JVM projection, ties to the lower cell id — identical to
  ``ivf_topk_exact``'s cell assignment, so the same centroid literal
  replays it in SQL.
- **Pruning order**: within a cell, members rank by ``(cdot ASC,
  id ASC)`` where ``cdot`` is the exact integer centroid dot — the
  deterministic stand-in for the paper's "keep the example least
  similar to the centroid" (raw integer dot, not norm-divided: within
  one cell the centroid is constant, so for near-unit-norm embedding
  families the two orders agree, and the integer key is what a SQL
  engine can reproduce without float division).
- **Drop rule**: a member is dropped iff SOME cell-mate that precedes
  it in that order is cosine-≥-threshold similar to it (the preceding
  mate may itself be dropped — the rule is one relational EXISTS, not
  an iterative greedy sweep, so it needs no loop and no order-dependent
  state). Survivors of every duplicate clique include its rank-first
  member, so each clique keeps ≥1 exemplar, the paper's invariant.
- **Exact threshold test**: ``cos(a,b) ≥ τ`` is evaluated with no
  floats as ``dot > 0 AND 10^6·dot² ≥ τ_milli²·|a|²·|b|²`` over the
  quantized vectors — DECIMAL(38,0) on the Spark side, HUGEINT in the
  DuckDB oracle; all values fit well under both (dot ≤ 2^46 for 64-dim
  grid-2^20 vectors ⇒ the largest product ≤ ~5·10^33 < 10^38). Zero
  vectors have dot 0 and are never duplicates of anything.

Scale shape: the only quadratic piece is the within-cell pair join —
exactly the paper's Σ|cell|² cost, which SemDeDup controls by scaling
the cluster count with the corpus (the paper runs 50k clusters on
LAION-440M; rule of thumb nlist ≈ √N keeps expected cell size √N).
The join itself is a plain equi-join on ``cell`` (AQE splits hot
cells), both sides carry only (id, 64×8B quantized vector, two
BIGINTs), and nothing ever collects: the pair stream is filtered to
dropped-ids by one semi-shaped distinct. The literal-centroid
projection is sized for moderate nlist: at most a few hundred cells,
since codegen grows with cells × dim. A web-scale nlist is outside this
operator's envelope.

Reference scope note: the reference repo (docling-translate) has no
embedding operators at all — this is an engine addition for the
LLM-training-data pipeline tier, alongside MinHash-LSH (syntactic
near-dup) and ``cosine_near_dup_pairs`` (pairwise semantic near-dup);
SemDeDup is the cluster-scoped variant that makes the semantic pass
tractable at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import (
    IVF_GRID,
    ivf_centroid_ints,
    ivf_ranked_cells,
    ivf_train_rows,
)

__all__ = ["semdedup_exact", "semantic_decontaminate"]

_DEC = "decimal(38,0)"


def semdedup_exact(
    corpus: DataFrame,
    thr_milli: int = 400,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 17,
    max_train: int = 65536,
    centroid_ints: list[list[int]] | None = None,
    grid: int = IVF_GRID,
) -> DataFrame:
    """Cluster-scoped semantic dedup: one row per corpus vector with its
    cell assignment, exact integer centroid dot, squared quantized norm,
    and the keep/drop verdict. A null vector gets no row.

    ``thr_milli`` is the cosine threshold in thousandths (950 ⇒ 0.95 —
    the paper's regime for strict duplicates; lower values prune
    near-neighbors more aggressively). Columns: ``vec_id``, ``cell``
    (BIGINT), ``cdot`` (BIGINT integer centroid dot), ``nsq`` (BIGINT
    squared norm of the quantized vector), ``kept`` (BOOLEAN).

    Pass ``centroid_ints`` (from :func:`ivf_centroid_ints`, built on the
    same ``grid``) to pin assignment to an existing codebook — the same
    contract as :func:`ivf_topk_exact`.
    """
    if not 0 < thr_milli <= 1000:
        raise ValueError(f"thr_milli must be in (0, 1000], got {thr_milli}")
    if centroid_ints is None:
        rows = ivf_train_rows(corpus, id_col, vec_col, max_train)
        centroid_ints = ivf_centroid_ints(rows, n_cells, seed=seed, grid=grid)

    # the assignment is ivf_topk_exact's, by construction: one shared
    # projection (ivf_ranked_cells) feeds both operators, so the shared
    # centroid literal replays both and an assignment fix lands once
    cells = ivf_ranked_cells(corpus, centroid_ints, grid, id_col, vec_col)
    # a null vector has no cell and no verdict: it gets no output row
    asg = cells.filter(F.col("_qe").isNotNull()).select(
        F.col("_vid").alias("vec_id"),
        "_qe",
        F.col("_cells")[0]["cell"].cast("long").alias("cell"),
        (-F.col("_cells")[0]["ns"]).alias("cdot"),
        F.aggregate(
            "_qe", F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("nsq"),
    ).cache()  # feeds the pair join twice (a/b sides) + the verdict join
    # — without it the cells×dim centroid-dot projection (the costly
    # codegen piece) and the corpus scan re-run three times per action

    a = asg.select(
        F.col("cell").alias("a_cell"),
        F.col("vec_id").alias("a_id"),
        F.col("cdot").alias("a_cdot"),
        F.col("nsq").alias("a_nsq"),
        F.col("_qe").alias("a_qe"),
    )
    b = asg.select(
        F.col("cell").alias("b_cell"),
        F.col("vec_id").alias("b_id"),
        F.col("cdot").alias("b_cdot"),
        F.col("nsq").alias("b_nsq"),
        F.col("_qe").alias("b_qe"),
    )
    # a precedes b in the prune order (cdot ASC, id ASC) — strict, so
    # a ≠ b for free
    precedes = (F.col("a_cdot") < F.col("b_cdot")) | (
        (F.col("a_cdot") == F.col("b_cdot")) & (F.col("a_id") < F.col("b_id"))
    )
    pairs = a.join(b, (F.col("a_cell") == F.col("b_cell")) & precedes)

    dot = F.aggregate(
        F.zip_with(F.col("a_qe"), F.col("b_qe"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # cos ≥ τ with zero floats: dot > 0 AND 10^6·dot² ≥ τ²·|a|²·|b|²
    # (DECIMAL(38,0); every operand fits — see module docstring)
    d = dot.cast(_DEC)
    over = (dot > 0) & (
        F.lit(1_000_000).cast(_DEC) * (d * d)
        >= F.lit(thr_milli * thr_milli).cast(_DEC)
        * (F.col("a_nsq").cast(_DEC) * F.col("b_nsq").cast(_DEC))
    )
    dropped = (
        pairs.filter(over)
        .select(F.col("b_id").alias("vec_id"))
        .dropDuplicates()
        .withColumn("_d", F.lit(1))
    )

    return (
        asg.join(dropped, on="vec_id", how="left")
        .select(
            "vec_id",
            "cell",
            "cdot",
            "nsq",
            F.col("_d").isNull().alias("kept"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    evalset: DataFrame,
    thr_milli: int = 400,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str = "vec_id",
    eval_vec_col: str = "embedding",
    seed: int = 17,
    max_train: int = 65536,
    centroid_ints: list[list[int]] | None = None,
    grid: int = IVF_GRID,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic twin of
    the n-gram ``decontaminate`` (dedup.py): flag corpus vectors whose
    cosine to ANY eval-set vector reaches the threshold. Paraphrased or
    reformatted eval leakage shares no 13-gram, but its embedding still
    sits next to the eval point — this pass catches what the lexical
    recipe structurally cannot.

    Same cluster-scoped machinery as :func:`semdedup_exact` (shared
    codebook, shared oracle literal): both sides assign on the integer
    grid via :func:`ivf_ranked_cells`; the CORPUS side takes its argmax
    cell only, the (small) EVAL side fans out to its top-``nprobe``
    cells — multiprobe on the cheap side buys back the cell-boundary
    recall the scoped join gives up, at eval-sized cost. Candidates
    form by one equi-join on cell; each (corpus, eval) pair appears at
    most once (the corpus vector owns one cell; the eval probe list is
    distinct cells), so the hit count needs no dedup. The cosine
    threshold test is the same no-float ``10^6·dot² ≥
    τ_milli²·|a|²·|b|²`` in DECIMAL(38,0); zero vectors never match.

    Output: one row per non-null CORPUS vector — ``vec_id``, ``cell`` (BIGINT),
    ``n_hits`` (BIGINT, eval vectors at or over threshold), ``kept``
    (BOOLEAN, true iff no hit — the n-gram operator's flag polarity).

    Scale shape: corpus-side work is the one assignment projection plus
    an equi-join whose build side is eval-sized×nprobe (AQE broadcasts
    it when it fits — the same shape that makes the n-gram recipe
    scale); nothing collects, nothing is all-pairs. Train the codebook
    on whichever side pins your cells (pass ``centroid_ints``); by
    default it trains on the corpus sample like :func:`semdedup_exact`.
    """
    if not 0 < thr_milli <= 1000:
        raise ValueError(f"thr_milli must be in (0, 1000], got {thr_milli}")
    if nprobe < 1:
        # nprobe=0 would silently pass everything (empty probe explode
        # ⇒ zero candidates ⇒ every corpus row kept) — fail loudly like
        # the threshold guard instead
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if centroid_ints is None:
        rows = ivf_train_rows(corpus, id_col, vec_col, max_train)
        centroid_ints = ivf_centroid_ints(rows, n_cells, seed=seed, grid=grid)
    nprobe = min(nprobe, len(centroid_ints))

    c_cells = ivf_ranked_cells(corpus, centroid_ints, grid, id_col, vec_col)
    # as in semdedup_exact, a null corpus vector gets no output row
    asg = c_cells.filter(F.col("_qe").isNotNull()).select(
        F.col("_vid").alias("vec_id"),
        F.col("_qe").alias("c_qe"),
        F.col("_cells")[0]["cell"].cast("long").alias("cell"),
        F.aggregate(
            "_qe", F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("c_nsq"),
    ).cache()  # feeds the candidate join and the final verdict join

    e_cells = ivf_ranked_cells(
        evalset, centroid_ints, grid, eval_id_col, eval_vec_col
    )
    probes = e_cells.select(
        F.col("_qe").alias("e_qe"),
        F.aggregate(
            "_qe", F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("e_nsq"),
        F.explode(
            F.transform(
                F.slice("_cells", 1, nprobe),
                lambda s: s["cell"].cast("long"),
            )
        ).alias("cell"),
    )

    dot = F.aggregate(
        F.zip_with(F.col("c_qe"), F.col("e_qe"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    d = dot.cast(_DEC)
    over = (dot > 0) & (
        F.lit(1_000_000).cast(_DEC) * (d * d)
        >= F.lit(thr_milli * thr_milli).cast(_DEC)
        * (F.col("c_nsq").cast(_DEC) * F.col("e_nsq").cast(_DEC))
    )
    hits = (
        asg.join(probes, on="cell")
        .filter(over)
        .groupBy("vec_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )

    return asg.join(hits, on="vec_id", how="left").select(
        "vec_id",
        "cell",
        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
        F.col("n_hits").isNull().alias("kept"),
    )
