"""Link-graph operators: integer PageRank for crawl prioritization.

The web-scale curation step the URL toolkit (scrub.py::url_frontier)
feeds: given the crawl's link graph, rank pages so the frontier fetches
(and the corpus keeps) the best-linked content first — the seed-ranking
recipe behind OpenWebText's karma cut and Common-Crawl-derived corpora
that weight by link authority. The reference engine has no graph step
(it processes one document at a time); this is an engine addition in
the same family as the iterative connected-components operator
(dedup.py::connected_components) and shares its discipline: slim
iteration state, localCheckpoint-flattened plans, deterministic
fixpoint math at any cluster size or partitioning.

Determinism is the hard part at scale: classic PageRank iterates
floating-point sums, and float addition is order-dependent — two
cluster sizes (or Spark vs the DuckDB oracle) would disagree in the
last ulps and a value-hash gate would flare. This implementation does
EVERY step in BIGINT integer arithmetic on micro-units of mass
(PR_SCALE per vertex), with floor division at the two division points
(out-degree split, damping). Integer sums are exact and order-free, so
the result is bit-identical on any engine, any partitioning, any
cluster size — the same reasoning as the DSIR/NB micro-unit
quantization (sampling.py::dsir_weights, classifier.py). All divisions
use the engines' INTEGER division (Spark `div`, DuckDB `//`) — never
float `/`, whose 53-bit mantissa would silently round quotients past
2^53 at the design envelope below.

Overflow envelope: total mass starts at n_vertices * PR_SCALE and only
shrinks (floors drop sub-unit remainders), so any single BIGINT sum is
bounded by n * 10^6 — safe through n = 10^12 vertices (10^18 < 2^63).
The damping product 85 * x would overflow first, so it is computed by
the exact split identity (85*x) div 100 == 85*(x div 100) +
(85*(x mod 100)) div 100, keeping every intermediate under ~10^17.

Scale shape per iteration (rows are slim (vertex, rank) pairs — no
payloads ride the loop):
- contribution split: ranks ⋈ out-degrees (both keyed by vertex),
  integer div — one narrow join on pre-aggregated degree rows;
- mass gather: edges ⋈ contributions on src, then groupBy(dst).sum —
  agg-shaped on the hot key, so a mega-hub (every page links to it)
  is collapsed by map-side combine before the exchange, never
  colocated in one task (the window-over-hot-key shape this repo
  bans; see dedup.py::dedup_segments docstring);
- dangling mass (vertices with no out-links — classic PageRank
  redistributes their rank uniformly): one scalar agg, broadcast back
  as a 1-row cross join;
- rank update: vertex list left-joined with gathered mass — new rank
  = (15% of PR_SCALE) + 85% of (gathered + dangling share), all floor
  arithmetic.

Fixed iteration count (not convergence detection) so the DuckDB oracle
can replay the exact computation as an unrolled chain of CTEs and
match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_translate_spark.operators.dedup import release_checkpoint

__all__ = [
    "PR_SCALE",
    "PR_DAMP_NUM",
    "PR_DAMP_DEN",
    "pagerank",
    "anchor_text_rollup",
]

PR_SCALE = 1_000_000  # micro-units of rank mass per vertex at init
PR_DAMP_NUM = 85  # damping factor 0.85 as an exact rational
PR_DAMP_DEN = 100
# (1 - d) * PR_SCALE teleport floor, exact in Python integers
_PR_BASE = ((PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE) // PR_DAMP_DEN

# exact overflow-safe (NUM * _x) div DEN over a named BIGINT column _x
# (identity for nonnegative x: split quotient and remainder terms)
_DAMP_EXPR = (
    f"{PR_DAMP_NUM} * (_x div {PR_DAMP_DEN})"
    f" + ({PR_DAMP_NUM} * (_x % {PR_DAMP_DEN})) div {PR_DAMP_DEN}"
)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
) -> DataFrame:
    """``(vertex, rank_units)`` after ``iters`` rounds of integer
    PageRank over the distinct ``(src, dst)`` edges.

    The vertex set is every id appearing as a source or target;
    duplicate edges collapse to one (a page linking twice votes once —
    the standard web-graph convention); self-loops are kept and vote
    for their own page. NULL endpoints are dropped (no vertex).
    ``rank_units`` is BIGINT micro-units of mass: divide by
    ``PR_SCALE`` for the conventional mean-1.0 normalization. Results
    are bit-identical across engines / partitionings / cluster sizes —
    see the module docstring for why and for the overflow envelope.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .persist()
    )
    # materialize ONCE before the three readers below (degree agg +
    # vertex union + per-iteration gather) — the upstream of `edges`
    # may be a full extraction/canonicalization pipeline
    e.count()

    outdeg = e.groupBy("src").agg(F.count("*").alias("_deg")).persist()
    verts = (
        e.select(F.col("src").alias("vertex"))
        .union(e.select("dst"))
        .distinct()
        .persist()
    )
    n_verts = verts.count()  # also materializes verts

    ranks = verts.select(
        "vertex", F.lit(PR_SCALE).cast("long").alias("rank_units")
    ).localCheckpoint()

    for _ in range(iters):
        # per-source contribution: rank split evenly over out-edges
        # (integer div; dangling vertices have no outdeg row and
        # contribute through the uniform dangling share instead)
        contrib = ranks.join(
            outdeg, ranks["vertex"] == outdeg["src"], "inner"
        ).select("src", F.expr("rank_units div _deg").alias("_c"))
        # gather: agg-shaped on dst (map-side combine collapses a
        # mega-hub's in-mass before the exchange)
        gathered = (
            e.join(contrib, "src")
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        # dangling mass: one scalar, broadcast back
        dang = (
            ranks.join(outdeg, ranks["vertex"] == outdeg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank_units"), F.lit(0)).alias("_dang"))
            .select(F.expr(f"_dang div {n_verts}").alias("_share"))
        )
        prev, ranks = ranks, (
            verts.join(gathered, verts["vertex"] == gathered["dst"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "vertex",
                (
                    F.coalesce(F.col("_in"), F.lit(0).cast("long"))
                    + F.col("_share")
                ).alias("_x"),
            )
            .select(
                "vertex",
                (F.lit(_PR_BASE).cast("long") + F.expr(_DAMP_EXPR)).alias(
                    "rank_units"
                ),
            )
            .localCheckpoint()  # flat plan: one join chain per round max
        )
        release_checkpoint(prev)  # the eager checkpoint above read it

    e.unpersist()
    outdeg.unpersist()
    verts.unpersist()
    return ranks


def anchor_text_rollup(
    edges: DataFrame,
    dst: str = "dst",
    anchor: str = "anchor",
    k: int = 3,
    salt_buckets: int = 64,
) -> DataFrame:
    """Per-target anchor-text profile: ``(dst, anchor, n_refs, rank)``
    — the top-``k`` distinct anchor phrases pointing at each target,
    ranked by reference count (ties lexicographic on the phrase).

    Anchor text is the web graph's free labeling signal: the phrases
    OTHER pages use to link a target describe it better than its own
    title (the classic web-IR observation behind anchor-text fields,
    and the recipe behind query-document training pairs mined from
    crawls). NULL targets/anchors drop (no vertex / no signal).

    Scale shape: the (dst, anchor) count is agg-shaped — map-side
    combine collapses a mega-hub's repeated anchors before the
    exchange — and the per-target cut reuses the salted two-phase
    :func:`~docling_translate_spark.operators.retrieval.topk_per_group`
    (every window partition bounded), so a target with 10^8 in-links
    never colocates in one task.
    """
    from docling_translate_spark.operators.retrieval import topk_per_group

    counts = (
        edges.filter(F.col(dst).isNotNull() & F.col(anchor).isNotNull())
        .groupBy(dst, anchor)
        .agg(F.count("*").cast("long").alias("n_refs"))
    )
    return topk_per_group(
        counts, [dst], "n_refs", k, [anchor], salt_buckets=salt_buckets
    )
