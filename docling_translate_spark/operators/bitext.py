"""Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
Parallel Corpus Mining with Multilingual Sentence Embeddings" — the
LASER/CCMatrix recipe): find translation pairs across two embedding
spaces by scoring each candidate with its cosine RELATIVE to both
sides' nearest-neighbor background, killing the hubness failure that
plain cosine thresholds have at corpus scale.

The reference repo is a translation app; this operator is the
corpus-construction step upstream of it — mining the parallel pairs a
translation model trains on, at the scale CCMatrix ran it (4.5 B
pairs): margin(x, y) = cos(x, y) / (Σ_k cos(x, NN_k(x))/2k +
Σ_k cos(y, NN_k(y))/2k), forward-best per source with a mutual-best
flag (the "max" strategy; intersection ≈ the paper's bidirectional
filter).

Engine-exactness discipline: every float derives DETERMINISTICALLY from
exact integers, so any SQL engine reproduces the values bit-for-bit —
- vectors quantize to the shared BIGINT grid; a candidate's cosine is
  ``double(d) / sqrt(double(nx)·double(ny))`` over BIGINT dot and
  norms: identical integers in, correctly-rounded IEEE ops, identical
  doubles out (the bigram_lm FP discipline, applied to cosines);
- neighbor ranking is (cos DESC, id) on those doubles;
- the k-neighbor background sums fold LEFT IN RANK ORDER on both
  engines (Spark ``aggregate`` over the rank-sorted array, DuckDB
  ``list_reduce`` over ``list(... ORDER BY rank)``) — association
  matched, so the sums are bit-identical;
- the margin is one division of identical doubles, emitted as the
  BIGINT ``floor(margin * 1e6)`` — a floor, not a rounding, so every
  engine emits the same integer.

Scale shape: candidate generation is cell-scoped on the shared integer
codebook (``ivf_ranked_cells``) — each side inverts at its argmax cell
and queries multiprobe their top-``nprobe`` cells, so the work is two
(query, probe-cell) equi-joins, never all-pairs |A|×|B| (CCMatrix used
exactly this: FAISS-index kNN, not exact search). Neighbor top-k and
background sums are bounded per-query windows/aggs; nothing collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .similarity import (
    IVF_GRID,
    ivf_centroid_ints,
    ivf_ranked_cells,
    ivf_train_rows,
)

__all__ = ["bitext_mine"]


def _cos(d: F.Column, na: F.Column, nb: F.Column) -> F.Column:
    """double(d)/sqrt(double(na)·double(nb)) — identical BIGINTs in ⇒
    identical double out on any IEEE engine; 0-norm guard."""
    return F.when(
        (na > 0) & (nb > 0),
        d.cast("double")
        / F.sqrt(na.cast("double") * nb.cast("double")),
    ).otherwise(F.lit(float("-inf")))


def _knn(qside: DataFrame, iside: DataFrame, k: int) -> DataFrame:
    """Directed cell-scoped kNN: qside queries probe their top-nprobe
    cells against iside's argmax-cell inverted lists. Returns per-pair
    rows (qid, nid, cos, rank ≤ k) ranked (cos DESC, nid)."""
    probes = qside.select(
        F.col("vid").alias("qid"),
        F.col("qe").alias("q_qe"),
        F.col("nsq").alias("q_nsq"),
        F.explode(F.col("probe_cells")).alias("cell"),
    )
    inv = iside.select(
        F.col("vid").alias("nid"),
        F.col("qe").alias("n_qe"),
        F.col("nsq").alias("n_nsq"),
        "cell",
    )
    d = F.aggregate(
        F.zip_with(F.col("q_qe"), F.col("n_qe"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        probes.join(inv, on="cell")
        .select(
            "qid",
            "nid",
            _cos(d, F.col("q_nsq"), F.col("n_nsq")).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _background(knn: DataFrame, qname: str, bname: str) -> DataFrame:
    """Per-query background term Σ_k cos / (2k): the rank-ordered LEFT
    fold (collect → sort by rank → aggregate), divided by 2k with k =
    the ACTUAL neighbor count (short lists near small cells use their
    own k, both engines alike)."""
    return (
        knn.groupBy(F.col("qid").alias(qname))
        .agg(F.collect_list(F.struct("rank", "cos")).alias("_rc"))
        .select(
            qname,
            (
                F.aggregate(
                    F.transform(
                        F.array_sort("_rc"), lambda s: s["cos"]
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                / (2.0 * F.size("_rc"))
            ).alias(bname),
        )
    )


def bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 17,
    max_train: int = 65536,
    centroid_ints: list[list[int]] | None = None,
    grid: int = IVF_GRID,
) -> DataFrame:
    """Mine translation-pair candidates: for every source vector with
    neighbors, its best target under the margin score, with the
    mutual-best flag.

    Columns: ``src_id``, ``tgt_id`` (BIGINT), ``margin_e6`` (BIGINT,
    ``floor(margin * 1e6)`` of the ratio-margin — a floor, not a
    rounding, so every SQL engine emits the same integer), ``mutual``
    (BOOLEAN — the pair is also the target's best source, the paper's
    bidirectional intersection).

    Train the codebook on src ∪ tgt (pass ``centroid_ints`` built from
    the union — the gate query does) or let it default to the source
    side's bounded sample.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if nprobe < 1:
        # nprobe=0 would leave every probe list empty ⇒ zero pairs
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if centroid_ints is None:
        rows = ivf_train_rows(src, id_col, vec_col, max_train)
        centroid_ints = ivf_centroid_ints(rows, n_cells, seed=seed, grid=grid)
    nprobe = min(nprobe, len(centroid_ints))

    def side(df: DataFrame) -> DataFrame:
        cells = ivf_ranked_cells(df, centroid_ints, grid, id_col, vec_col)
        return cells.select(
            F.col("_vid").alias("vid"),
            F.col("_qe").alias("qe"),
            F.col("_cells")[0]["cell"].alias("cell"),
            F.aggregate(
                "_qe", F.lit(0).cast("long"), lambda acc, x: acc + x * x
            ).alias("nsq"),
            F.transform(
                F.slice("_cells", 1, nprobe), lambda s: s["cell"]
            ).alias("probe_cells"),
        ).cache()

    a, b = side(src), side(tgt)

    fwd = _knn(a, b, k).cache()  # src → tgt neighbors
    bwd = _knn(b, a, k).cache()  # tgt → src neighbors
    bg_x = _background(fwd, "qid", "bx")  # per-src background
    bg_y = _background(bwd, "qid", "by")  # per-tgt background

    # margin over the forward candidate pairs; best per src under
    # (margin DESC, tgt id) — margin compares identical doubles, so the
    # argmax is engine-stable; only the OUTPUT is floor(margin * 1e6)
    m = (
        fwd.join(bg_x.withColumnRenamed("qid", "qid_x"), F.col("qid") == F.col("qid_x"))
        .join(bg_y.withColumnRenamed("qid", "qid_y"), F.col("nid") == F.col("qid_y"))
        .select(
            F.col("qid").alias("src_id"),
            F.col("nid").alias("tgt_id"),
            (F.col("cos") / (F.col("bx") + F.col("by"))).alias("_margin"),
        )
    )
    wbest = Window.partitionBy("src_id").orderBy(
        F.col("_margin").desc(), F.col("tgt_id")
    )
    best_fwd = (
        m.withColumn("_rn", F.row_number().over(wbest))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # mutual flag: the symmetric computation from the backward kNN
    mb = (
        bwd.join(bg_y.withColumnRenamed("qid", "qid_y"), F.col("qid") == F.col("qid_y"))
        .join(bg_x.withColumnRenamed("qid", "qid_x"), F.col("nid") == F.col("qid_x"))
        .select(
            F.col("qid").alias("b_tgt"),
            F.col("nid").alias("b_src"),
            (F.col("cos") / (F.col("by") + F.col("bx"))).alias("_bm"),
        )
    )
    wb = Window.partitionBy("b_tgt").orderBy(F.col("_bm").desc(), F.col("b_src"))
    best_bwd = (
        mb.withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("b_src").alias("src_id"),
            F.col("b_tgt").alias("tgt_id"),
            F.lit(True).alias("_mut"),
        )
    )

    return (
        best_fwd.join(best_bwd, on=["src_id", "tgt_id"], how="left")
        .select(
            "src_id",
            "tgt_id",
            F.floor(F.col("_margin") * 1e6).cast("long").alias("margin_e6"),
            F.coalesce(F.col("_mut"), F.lit(False)).alias("mutual"),
        )
    )
