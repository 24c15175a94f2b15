"""BM25 retrieval: exact-score parity vs a from-spec Python reference,
deterministic ordering, edge cases, and input validation."""

import math

import pytest

from docling_translate_spark.operators.retrieval import bm25_topk


def _ref_bm25(rows, query, k, k1=1.2, b=0.75):
    """From-spec reference mirroring the operator's arithmetic exactly:
    micro-unit HALF_UP quantization per (doc, term), exact integer sum.
    HALF_UP on positives == floor(x + 0.5) (Python's round() is
    half-even and would diverge at .5 boundaries)."""
    terms = sorted({t for t in query.lower().split() if t})
    toks = {i: [t for t in (txt or "").lower().split() if t] for i, txt in rows}
    n = len(rows)
    sdl = sum(len(v) for v in toks.values())
    dfreq = {
        t: sum(1 for v in toks.values() if t in v) for t in terms
    }
    out = []
    for i, _ in rows:
        tl = toks[i]
        dl = len(tl)
        micro, matched = 0, 0
        for t in terms:
            tf = tl.count(t)
            if tf == 0:
                continue
            matched += 1
            if sdl == 0:
                continue
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            tfn = (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * (dl / (sdl / n)))
            )
            micro += int(math.floor(idf * tfn * 1e6 + 0.5))
        out.append((i, matched, micro / 1e6))
    out.sort(key=lambda r: (-r[2], r[0]))
    return out[:k]


ROWS = [
    (1, "spark window merge sort spark spark"),
    (2, "window window window hash join"),
    (3, "stream stream hash spark window batch batch batch"),
    (4, "the quick brown fox"),
    (5, "hash"),
    (6, ""),
    (7, None),
    (8, "spark hash stream window spark hash stream window"),
]


def _df(spark, rows=ROWS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_matches_reference_exactly(spark):
    q = "spark window hash stream"
    got = [
        (r.doc_id, r.matched, r.score)
        for r in bm25_topk(_df(spark), q, 8).collect()
    ]
    assert got == _ref_bm25(ROWS, q, 8)


def test_bm25_topk_cut_and_tiebreak(spark):
    # docs 5 ('hash' only), 6 and 7 score 0.0 and must rank last, in
    # id order (zero-score docs: 2, 4, 5, 6, 7 for query 'spark')
    got = bm25_topk(_df(spark), "spark", 8).collect()
    assert [r.doc_id for r in got[-3:]] == [5, 6, 7]
    zero = [r for r in got if r.score == 0.0]
    assert [r.doc_id for r in zero] == sorted(r.doc_id for r in zero)
    top2 = bm25_topk(_df(spark), "spark", 2).collect()
    assert [(r.doc_id, r.score) for r in top2] == [
        (r.doc_id, r.score) for r in got[:2]
    ]


def test_bm25_unmatched_term_contributes_zero(spark):
    base = bm25_topk(_df(spark), "spark", 8).collect()
    extra = bm25_topk(_df(spark), "spark zzz_absent", 8).collect()
    assert [(r.doc_id, r.score) for r in base] == [
        (r.doc_id, r.score) for r in extra
    ]


def test_bm25_all_empty_corpus_scores_zero(spark):
    rows = [(1, ""), (2, None), (3, "   ")]
    got = bm25_topk(_df(spark, rows), "spark", 3).collect()
    assert [(r.doc_id, r.matched, r.score) for r in got] == [
        (1, 0, 0.0),
        (2, 0, 0.0),
        (3, 0, 0.0),
    ]


def test_bm25_case_and_duplicate_query_terms(spark):
    a = bm25_topk(_df(spark), "Spark SPARK spark", 8).collect()
    c = bm25_topk(_df(spark), "spark", 8).collect()
    assert [(r.doc_id, r.score) for r in a] == [(r.doc_id, r.score) for r in c]


def test_bm25_input_validation(spark):
    with pytest.raises(ValueError):
        bm25_topk(_df(spark), "   ", 5)


def test_bm25_long_query_matches_reference(spark):
    # 33 distinct terms — four real, the rest absent
    q = "spark window hash stream " + " ".join(f"zz{i}" for i in range(29))
    got = bm25_topk(_df(spark), q, 8).collect()
    assert [(r.doc_id, r.matched, r.score) for r in got] == _ref_bm25(
        ROWS, q, 8
    )


def test_bm25_same_rows_at_any_partitioning(spark):
    # four texts, six docs each, ids interleaved so no partition holds
    # an id-ordered run: every score is shared by six docs and k = 9
    # cuts inside the second tie group, where only the id breaks ties
    texts = ["spark window", "spark", "window hash", "hash"]
    rows = [((i * 7) % 24, texts[i % 4]) for i in range(24)]
    q, k = "spark window", 9
    full = _ref_bm25(rows, q, len(rows))
    assert full[k - 1][2] == full[k][2]  # the cut really splits a tie

    df = _df(spark, rows)
    got1, got7 = (
        [
            (r.doc_id, r.matched, r.score)
            for r in bm25_topk(df.repartition(p), q, k).collect()
        ]
        for p in (1, 7)
    )
    assert got1 == got7 == full[:k]
