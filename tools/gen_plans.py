"""Regenerate PLANS.md from live `.explain("formatted")` output."""

from __future__ import annotations

import contextlib
import io
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    from docling_translate_spark.operators.extract import extract_turns_fused
    from docling_translate_spark.plans.session import build_session
    from docling_translate_spark.schema import TRANSCRIPT_SCHEMA
    from docling_translate_spark.synth import gen_rows

    spark = build_session(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(gen_rows(10, 4), TRANSCRIPT_SCHEMA).write.mode(
        "overwrite"
    ).parquet(tmp + "/t")
    df = spark.read.parquet(tmp + "/t")

    def plan(d) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            d.explain("formatted")
        return buf.getvalue().strip()

    fused = plan(extract_turns_fused(df))

    from docling_translate_spark.operators.sampling import hash_sample
    from docling_translate_spark.operators.similarity import brute_force_topk_blocked

    from docling_translate_spark.operators.sampling import pack_sequences
    from docling_translate_spark.operators.similarity import lsh_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    blocked = plan(brute_force_topk_blocked(emb, emb, k=3, n_blocks=4))
    sample = plan(hash_sample(df, 0.25, id_col="conv_id"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    packing = plan(pack_sequences(docs, 512))
    lsh = plan(lsh_ann_topk(emb, dim=64, k=3, n_planes=4, n_tables=4))

    from docling_translate_spark.operators.dedup import dedup_segments
    from docling_translate_spark.operators.html_boiler import (
        extract_main_content,
    )
    from docling_translate_spark.operators.text_analysis import (
        unigram_logprob,
    )

    segs = plan(dedup_segments(docs))
    unigram = plan(unigram_logprob(docs))
    html = plan(extract_main_content(docs))

    from pyspark.sql import functions as F

    from docling_translate_spark.operators.sampling import dsir_weights

    dsir = plan(
        dsir_weights(
            docs.filter(F.col("doc_id") % 11 != 0),
            docs.filter(F.col("doc_id") % 11 == 0),
        )
    )

    from docling_translate_spark.operators.retrieval import bm25_topk

    bm25 = plan(bm25_topk(docs, "spark window hash stream", 100))

    from docling_translate_spark.operators.layout import layout_reading_order

    blocks = spark.createDataFrame(
        [(1, 0, 0, 100, 200, 300, 240, "text", "a")],
        "doc_id long, block_id long, page long, x0 long, y0 long, "
        "x1 long, y1 long, kind string, text string",
    )
    layout = plan(layout_reading_order(blocks))

    from docling_translate_spark.operators.dom_tokens import dom_tokenize

    dom = plan(dom_tokenize(docs.selectExpr("doc_id", "text")))

    from docling_translate_spark.operators.classifier import nb_classify
    from docling_translate_spark.operators.dedup import dedup_incremental
    from docling_translate_spark.operators.metrics import corpus_profile

    incr = plan(
        dedup_incremental(
            docs.filter(F.col("doc_id") % 3 != 0),
            docs.filter(F.col("doc_id") % 3 == 0),
            n=4,
            threshold=0.3,
            max_bucket=20,
        )
    )

    nb = plan(
        nb_classify(
            docs.filter(~(F.col("doc_id") % 7).isin(0, 3)),
            docs.filter(F.col("doc_id") % 7 == 0),
            docs.filter(F.col("doc_id") % 7 == 3),
        )
    )
    profile = plan(corpus_profile(docs))

    from docling_translate_spark.operators.asof import asof_join
    from docling_translate_spark.operators.sketch import hll_distinct

    ev_probe = spark.createDataFrame([(1, 1, 1)], "pid long, k long, ts long")
    ev_build = spark.createDataFrame([(1, 1, 1)], "k long, ts long, v long")
    asof = plan(asof_join(ev_probe, ev_build, "k", "ts", ["v"], bucket_width=10))

    hll = plan(hll_distinct(docs.selectExpr("source", "text"), "text", ["source"]))

    from docling_translate_spark.operators.sketch import bloom_build, bloom_probe

    bloom_flt = bloom_build(docs.filter(F.col("doc_id") % 3 == 0), "text")
    bloom = plan(bloom_probe(docs.selectExpr("doc_id", "text"), bloom_flt, "text"))

    from docling_translate_spark.pipeline import CurationConfig, curate_turns

    blocklist = spark.createDataFrame([("blocked.example",)], ["domain"])
    curation = plan(
        curate_turns(
            df,
            CurationConfig(near_dup=False, min_chars=5),
            blocklist=blocklist,
        )
    )
    from docling_translate_spark.operators.graph import (
        anchor_text_rollup,
        pagerank,
    )
    from docling_translate_spark.operators.metrics import (
        quality_audit,
        snapshot_diff,
    )
    from docling_translate_spark.operators.retrieval import topk_per_group
    from docling_translate_spark.operators.sampling import shard_manifest
    from docling_translate_spark.operators.similarity import quantized_ip_topk
    from docling_translate_spark.operators.sketch import cms_build, cms_estimate

    edges = docs.selectExpr(
        "'d' || CAST(doc_id AS STRING) AS src",
        "'h' || CAST(doc_id % 7 AS STRING) AS dst",
        "CAST(doc_id % 4 AS STRING) AS anchor",
    )
    pr = plan(pagerank(edges, iters=2))
    anchor = plan(anchor_text_rollup(edges, k=2, salt_buckets=4))
    audit = plan(
        quality_audit(
            docs,
            [
                ("not_null", "text_present", "text"),
                ("unique", "id_unique", "doc_id"),
                ("matches", "lang_shape", "lang", "^[a-z]{2}$"),
            ],
        )
    )
    sdiff = plan(snapshot_diff(docs, docs.filter(F.col("doc_id") % 2 == 0)))
    topk = plan(
        topk_per_group(docs, ["source"], "n_chars", 3, ["doc_id"], 8)
    )
    quant = plan(quantized_ip_topk(emb, emb, k=3, n_blocks=4))
    shard = plan(shard_manifest(docs, shard_size=64))
    cms_sketch = cms_build(docs.selectExpr("doc_id", "text"), "text")
    cms = plan(cms_estimate(docs.selectExpr("text"), cms_sketch, "text"))

    from docling_translate_spark.operators.metrics import conversation_shape
    from docling_translate_spark.operators.text_analysis import (
        bigram_lm_score,
        bigram_lm_train,
    )

    convshape = plan(conversation_shape(df))
    lm_model = bigram_lm_train(docs.filter(F.col("doc_id") % 5 != 0))
    bigram = plan(bigram_lm_score(docs, lm_model))

    from docling_translate_spark.operators.metrics import template_families
    from docling_translate_spark.operators.retrieval import tfidf_keywords
    from docling_translate_spark.operators.text_analysis import (
        vocab_divergence,
    )

    tfidf = plan(tfidf_keywords(docs, k=5))
    vdiv = plan(
        vocab_divergence(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        )
    )
    tmpl = plan(
        template_families(
            df.selectExpr("conv_id", "turn_idx", "text"), prefix_chars=80
        )
    )

    from docling_translate_spark.operators.sampling import weighted_sample
    from docling_translate_spark.operators.text_analysis import source_overlap

    wsamp = plan(
        weighted_sample(
            docs.selectExpr("doc_id", "CAST(n_chars % 97 + 1 AS DOUBLE) AS w"),
            n=50,
            weight_col="w",
        )
    )
    soverlap = plan(source_overlap(docs.selectExpr("source", "text")))

    from docling_translate_spark.operators.similarity import (
        group_centroid_dots,
    )

    cdots = plan(
        group_centroid_dots(
            emb.selectExpr(
                "'g' || CAST(vec_id % 8 AS STRING) AS source", "embedding"
            )
        )
    )

    from docling_translate_spark.operators.bpe import bpe_pair_stats
    from docling_translate_spark.operators.semdedup import semdedup_exact
    from docling_translate_spark.operators.similarity import IVF_GRID

    sdd = plan(
        semdedup_exact(
            emb,
            thr_milli=400,
            centroid_ints=[
                [IVF_GRID if d == j * 8 else 0 for d in range(64)]
                for j in range(4)
            ],
        )
    )
    bpe = plan(bpe_pair_stats(docs, top_k=50))

    from docling_translate_spark.operators.similarity import ivfpq_topk

    pq = plan(
        ivfpq_topk(
            emb,
            k=3,
            nprobe=2,
            centroid_ints=[
                [IVF_GRID if d == j * 8 else 0 for d in range(64)]
                for j in range(4)
            ],
            codebook_ints=[
                [
                    [IVF_GRID if d == kk else 0 for d in range(8)]
                    for kk in range(4)
                ]
                for _ in range(8)
            ],
        )
    )

    md = f"""# PLANS — physical plans of the extraction + headline scale operators

Captured with `.explain("formatted")` over a parquet transcript table
(regenerate with `python tools/gen_plans.py`). Properties are enforced by
`tests/test_plans.py` (column pruning, pushdown, shuffle counts, no
row-at-a-time Python).

## Extraction plan (`extract_turns_fused`)

One narrow stage: scan → project (4 columns only) → one `MapInArrow`.
Zero exchanges; parallelism = scan partitions; runs unchanged under
Structured Streaming.

```
{fused}
```

## Blocked exact kNN (`brute_force_topk_blocked`)

Both sides hash-aggregate into packed matrix blocks (collect_list), the
block cells form via a cartesian of the two tiny packed relations (never
a vector broadcast), one GEMM per cell in `MapInPandas`, then a window
merge of per-block top-k. Corpus size never bounds worker memory.

```
{blocked}
```

## Deterministic sampling (`hash_sample`)

A pure filter on md5(id) — no exchange, no sort, no Python; at scale
this is a pushed-through scan-stage predicate.

```
{sample}
```

## Two-phase sequence packing (`pack_sequences`)

A stratum never serializes on one task: contiguous id-range buckets cut
each stratum into n_buckets pieces; the per-bucket partial-sum table
(strata × buckets rows — kilobytes) prefix-sums and broadcast-joins
back, and the heavy window partitions on (stratum, bucket). The only
single-task window runs over the tiny partials relation.

```
{packing}
```

## LSH ANN (`lsh_ann_topk`) — per-bucket GEMM

Signature kernel (one `MapInPandas`), bucket packing via
`collect_list`, one numpy GEMM per (table, bucket) cell emitting only
per-member top-k, then a max-dedup + window merge. Candidate PAIRS are
never materialized or shuffled, and no vector is broadcast. Hot-bucket
salt-split shard counts come from a groupBy over the slim ~24-byte
(table, bucket) signature rows BEFORE the embedding column attaches —
no Window partition ever carries a vector (a mega-bucket's payload
would otherwise colocate in one task; `tests/test_plans.py` pins it).

```
{lsh}
```

## Curation exact dedup + blocklist (`curate_turns`, near-dup off)

The composed extraction → blocklist → gates → exact-dedup flow. Both
flag-then-anti-join fan-outs read an `InMemoryRelation` staged at the
fan-out point (at cluster scale: a staging table), so the fused
extraction kernel executes once. Exact dedup is the arg-min
`groupBy(fingerprint).agg(min(struct))` + semi-join — `partial_min`
below the exchange collapses a viral fingerprint per map task; there
is NO Window over fingerprint anywhere in the plan, and a
`dropDuplicates` on the semi-join keys keeps the one-row guarantee
independent of input hygiene.

```
{curation}
```

## C4 duplicate-segment removal (`dedup_segments`)

Two agg-shaped shuffles, NO join on the dup key: the global keep-first
arg-min is `groupBy(seg).agg(min(struct))` whose map-side partial
(`partial_min` below the exchange) collapses a hot boilerplate segment
per map task, and the winner rows ARE the surviving occurrences, so
reassembly groups them directly. A window/rank formulation would sort
every occurrence of a hot segment in one task.

```
{segs}
```

## Unigram-LM quality (`unigram_logprob`)

Vocab counts and per-doc means are plain aggregates with map-side
combine; the token→count attach is an equi-join AQE can broadcast or
skew-split; the corpus total rides a 1-row broadcast — no driver
collect anywhere.

```
{unigram}
```

## HTML main-content extraction (`extract_main_content`)

The whole block classifier — split at structural tags, per-block word/
link/tag signals, boilerplate-battery match, filter + rejoin — is ONE
codegen projection of higher-order column expressions: no exchange, no
Python, parallelism = scan partitions.

```
{html}
```

## DSIR importance resampling (`dsir_weights`)

Gram explode is narrow (array built per row, one `Generate`); bucket
count tables (≤ m_buckets rows) are persisted `InMemoryRelation`s so
their two consumers (totals, ratio) never re-run the corpus pass; the
likelihood-ratio table reaches the corpus-sized scoring rows as a
`BroadcastHashJoin` — a shuffle join there would hash every gram row
onto m distinct keys (guaranteed hot partitions). Per-doc sums are
BIGINT-exact (micro-unit quantization), so results are reproducible at
any parallelism. No Python, no Window.

```
{dsir}
```

## BM25 top-k retrieval (`bm25_topk`)

Short-query fast path: per-term frequencies are row-local array
reductions inside one projection (no `Generate`, no per-token
shuffle); the corpus statistics row (N, Σdl, per-term df) is the only
exchange (`Exchange SinglePartition` under a partial aggregate) and
re-attaches as a broadcast; the cut is `TakeOrderedAndProject` — each
task keeps k rows. Corpus rows are never hash/range-repartitioned
(`tests/test_plans.py` pins it). Scores are micro-unit BIGINT-exact,
so the (score DESC, id) cut is reproducible at any parallelism.

```
{bm25}
```

## Layout reading order (`layout_reading_order`)

The two-column decision and the per-document rank are Window stages
partitioned on (doc, page) and (doc) — both bounded keys (a document
holds a bounded number of blocks; there is no corpus-wide hot key, the
shape the fingerprint-window ban exists for). Caption attachment is a
captions×anchors join within one (doc, page) reduced by the arg-min
`groupBy(min(struct))` pattern, and the caption branch re-derives role
from the cheap pre-window projection so neither window exchange
executes twice. No Python anywhere — every decision is an integer
column comparison.

```
{layout}
```

## DOM token-sequence lexer (`dom_tokenize`)

The entire lexer — one-regex `regexp_extract_all`, per-token
classification and tag-name normalization inside a `transform`, UTF-8
byte lengths — is ONE codegen projection: no exchange, no Python,
parallelism = scan partitions. The flat view adds only a narrow
`Generate` (posexplode).

```
{dom}
```

## Incremental snapshot dedup (`dedup_incremental`)

The continuous-crawl ingest gate. Stage 1's within-batch exact dedup is
the arg-min `groupBy + semi-join` (`partial_min` below the exchange —
a viral duplicate collapses per map task, never a hot-key window);
stage 2 is a left-anti equi-join against the snapshot's slim hash
column (anti-joins never fan out, so no corpus-wide distinct); stage
3's cross-corpus Jaccard reuses the inverted shingle index with the
stop-shingle cap on the COMBINED document frequency, and every
two-consumer intermediate (batch survivors, both shingle relations,
both rare relations) reads an `InMemoryRelation` — at snapshot scale
these are the committed index tables the same aggregates maintain.

```
{incr}
```

## NB quality classifier (`nb_classify`)

Training is two aggregations (per-class bucket counts, map-side
combine collapses hot buckets per task) over the narrow gram
`Generate`; the fitted weight table is COMPLETE (spark.range over the
bucket axis left-joined with the counts — every bucket carries its
smoothed weight), so scoring is a plain `BroadcastHashJoin` with no
unseen-bucket fallback on the corpus-sized side, followed by the one
per-document aggregate exchange. The class prior rides a 1-row
broadcast nested-loop join. Micro-unit BIGINT sums — reproducible at
any parallelism. No Python, no Window.

```
{nb}
```

## Corpus data card (`corpus_profile`)

Exact per-group length quantiles WITHOUT a hot-key sort: lengths
collapse to a per-(group, length) histogram first (`partial_count`
below the exchange — a group's 10^10 rows become ≤ max_len histogram
rows), and the cumulative-count Window runs over histogram rows only.
The per-group totals row broadcasts back; distinct-text counting is
the standard two-phase `count(distinct md5)` expand-aggregate. All
decisions in integer arithmetic.

```
{profile}
```

## As-of join (`asof_join`)

The temporal join WITHOUT the hot-key melt: the event-level Window
partitions by (key, time-bucket) — task size capped by
rows-per-key-per-bucket, never a whole key in one sort — and the only
key-alone Window runs over the slim per-bucket build summaries (an
aggregation's output: one row per non-empty bucket, `partial_max`
below its exchange). Probe rows rejoin the carry values on (key,
bucket). No Python anywhere.

```
{asof}
```

## Portable HLL sketch (`hll_distinct`)

Register build is one map-side-combined aggregate over md5-nibble
expressions (a group's 10^10 values become ≤ 4096 register rows per
task before the exchange); the dense axis is a broadcast of
`range(4096)` against the distinct groups; the estimator is a second
tiny aggregate over register rows with exact BIGINT unit sums. No
Python, no Window, nothing bigger than (groups × 4096) ever shuffles.

```
{hll}
```

## Portable Bloom filter (`bloom_probe`)

The membership probe is k BroadcastHashJoins on the word key — the
candidate side never shuffles and never aggregates (a map-side-only
decoration at any corpus size); the only exchanges in the plan belong
to the filter build's bit_or aggregation, bounded by the 32k-word
bitmap, and they feed broadcast exchanges, never a shuffle of the
probe side. Masks are `pow(2, pos % 32)` BIGINT expressions in
codegen; no Python, no Window.

```
{bloom}
```

## Integer PageRank (`pagerank`, 2 iterations shown)

The final plan reads localCheckpoint'd RDD state (no join pyramid —
one flat scan regardless of iteration count); inside each round the
gather is `partial_sum` below its exchange on dst (a mega-hub's
in-mass collapses per map task) and the dangling share is a 1-row
BroadcastNestedLoopJoin. All BIGINT `div`/`%` — no floats anywhere.

```
{pr}
```

## Anchor-text rollup (`anchor_text_rollup`)

(dst, anchor) counts: `partial_count` below the exchange; the
per-target cut is the salted two-phase top-k — first Window partitions
on (dst, _salt), second on dst over ≤ k·salt_buckets survivors.

```
{anchor}
```

## One-pass quality audit (`quality_audit`)

Every rule is a conditional-sum column of ONE aggregate:
`partial_count`/`partial_sum` below a single-row exchange; the unique
rule contributes the documented Expand. The unpivot is a `Generate`
over the 1-row result. No Window, no Python.

```
{audit}
```

## Snapshot diff (`snapshot_diff`)

Digests project below the join exchanges — the exchanges carry only
(id, 32-char digest) rows; the text column never shuffles.

```
{sdiff}
```

## Per-group top-k (`topk_per_group`)

Two bounded Windows: the first partitions on (group, _salt) — a hot
group spreads over salt_buckets tasks — the second on group over
≤ k·salt_buckets survivors.

```
{topk}
```

## Quantized MIPS (`quantized_ip_topk`)

Quantization is a codegen Project below the block-pack aggregates;
then the packed×packed GEMM shape of the float kNN (cartesian of two
tiny packed relations, one `MapInPandas`), and the bounded
n_blocks·k-per-query merge window.

```
{quant}
```

## Training-order sharding (`shard_manifest`)

Two-phase global rank: the per-bucket prefix-sum table is a tiny
aggregate (16^nibbles rows) broadcast back; the within-bucket
`row_number` Window partitions on the hash-prefix bucket — never a
single global sort task.

```
{shard}
```

## Count-min estimate (`cms_estimate`)

The candidate side never shuffles: d per-row cell lookups are
BroadcastHashJoins against the sparse sketch relation; the min-over-d
is a per-candidate aggregate over exactly d rows.

```
{cms}
```

## Conversation shape profile (`conversation_shape`)

The only Window partitions on conv_id over SLIM projected rows — its
`ReadSchema`/child Project carries role/turn_idx/length flags, never
the text payload; the groupBy after it reuses the window's hash
partitioning and every aggregate is algebraic (partial HashAggregate
below the exchange).

```
{convshape}
```

## Bigram LM scoring (`bigram_lm_score`)

The corpus-sized pair relation (narrow Generate, no positioned
self-join) shuffles exactly twice — once against the prejoined seen
table, once against the backoff vocab — AQE picks broadcast when the
model is small; the (N, V) totals ride a BroadcastNestedLoopJoin of a
1-row relation; no Window, no Python.

```
{bigram}
```

## TF-IDF keywords (`tfidf_keywords`)

(doc, term) tf aggregate with map-side combine; df aggregated over the
tf relation; the 1-row N broadcast; the per-doc ranking window bounded
by one document's distinct terms, with Spark's WindowGroupLimit rank
pushdown below the exchange.

```
{tfidf}
```

## Vocabulary divergence (`vocab_divergence`)

Two agg-shaped counts, a slim (term, counts) full-outer join (the
cached multi-consumer point), 1-row broadcasts for totals and the KL
scalar, TakeOrderedAndProject for the top-k — never a global sort.

```
{vdiv}
```

## Template families (`template_families`)

No Window anywhere: first-turn selection is partial_min(struct) below
the conv_id exchange (a 10^6-turn conversation collapses map-side),
and the family rollup is a second partial-aggregated groupBy on the
md5 fingerprint.

```
{tmpl}
```

## Weighted sampling (`weighted_sample`)

One zero-shuffle projection (the nano-quantized A-ES key) and a
TakeOrderedAndProject — the whole weighted draw with no reservoir
state and no global sort.

```
{wsamp}
```

## Source overlap (`source_overlap`)

Distinct (shingle, source) collapses map-side (partial HashAggregate
below the exchange); the stop-cap filter joins slim keys before the
a<b pair self-join; per-source totals attach as broadcasts; the
Jaccard is integer arithmetic in the final Project.

```
{soverlap}
```

## Centroid similarity (`group_centroid_dots`)

One narrow Generate (posexplode), one agg-shaped exchange (partial
HashAggregate collapses a group's rows map-side); everything after is
groups×dim-sized — the pair self-join and all count/self-dot attaches
plan as broadcasts.

```
{cdots}
```

## SemDeDup (`semdedup_exact`, pinned codebook)

Assignment + centroid dot + norm in ONE codegen projection (no Python,
no shuffle); the within-cell pairing is an equi-join on `cell` (never a
cartesian — the Σ|cell|² cost contract), the threshold test is a
DECIMAL(38,0) column expression, and the verdict attaches via one
distinct + left join pair.

```
{sdd}
```

## IVF-PQ / ADC (`ivfpq_topk`, pinned codebooks)

Coarse assignment + the unified sub-dot projection (codes AND query
LUTs from one cached select), codes packed per cell via one agg, the
ADC scan as a row-local transform over the packed list on the (query,
probe-cell) equi-join, local top-(k+1) slice, bounded merge window.
No Python, no cartesian; the only corpus-sized shuffles are the
pack agg and the probe join.

```
{pq}
```

## BPE merge statistics (`bpe_pair_stats`)

Corpus-sized stage is one partial-aggregated word count; the pair
explosion Generate runs over the distinct-word histogram
(vocabulary-sized), the second agg partial-aggregates too, and the
top-k cut plans as `TakeOrderedAndProject` (bounded, never a global
sort) with the rank window above the already-cut 50 rows.

```
{bpe}
```

Notes:
- `ReadSchema` shows only conv_id/turn_idx/text/tool — role/ts pruned.
- A filter above the extraction plan pushes to `PushedFilters` in the scan.
"""
    with open(ROOT / "PLANS.md", "w") as f:
        f.write(md)
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
