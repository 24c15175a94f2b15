"""Margin-based bitext mining (operators/bitext.py) — obvious-pair
micro fixture and a pure-Python exact twin (identical integer dots,
identical IEEE fold order) over the real sf0.001 embeddings."""

import math

import numpy as np
import pytest
from pyspark.sql.types import LongType

from docling_translate_spark.operators.bitext import bitext_mine
from docling_translate_spark.operators.similarity import (
    IVF_GRID,
    ivf_centroid_ints,
    ivf_train_rows,
)

SF_DIR = "/root/testdata/sf0.001"


def test_k_validation(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="k must be"):
        bitext_mine(df, df, k=0, centroid_ints=[[IVF_GRID, 0]])


def test_nprobe_validation(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="nprobe must be"):
        bitext_mine(df, df, nprobe=0, centroid_ints=[[IVF_GRID, 0]])


def test_micro_obvious_pairs(spark):
    """Two 'languages', each with a +x-ish and a +y-ish sentence: the
    aligned directions must pair up, mutually."""
    src = spark.createDataFrame(
        [(0, [1.0, 0.05, 0.0, 0.0]), (1, [0.05, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    tgt = spark.createDataFrame(
        [(100, [0.98, 0.1, 0.0, 0.0]), (101, [0.1, 0.98, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = [[IVF_GRID, 0, 0, 0], [0, IVF_GRID, 0, 0]]
    out = {
        r["src_id"]: r.asDict()
        for r in bitext_mine(
            src, tgt, k=2, nprobe=2, centroid_ints=cents
        ).collect()
    }
    assert out[0]["tgt_id"] == 100 and out[0]["mutual"]
    assert out[1]["tgt_id"] == 101 and out[1]["mutual"]
    assert out[0]["margin_e6"] > 1_000_000  # aligned pair beats the background


def _twin(a_ids, a_vecs, b_ids, b_vecs, cents, k, nprobe):
    g = IVF_GRID
    cmat = np.asarray(cents, dtype=np.int64)

    def quant(vecs):
        return np.floor(vecs * g + 0.5).astype(np.int64)

    def cells_probes(q):
        dots = q @ cmat.T
        probes = []
        for i in range(len(q)):
            order = sorted(range(len(cents)), key=lambda c: (-dots[i, c], c))
            probes.append(order[:nprobe])
        return [p[0] for p in probes], probes

    aq, bq = quant(a_vecs), quant(b_vecs)
    a_cell, a_probes = cells_probes(aq)
    b_cell, b_probes = cells_probes(bq)
    a_nsq = (aq * aq).sum(axis=1)
    b_nsq = (bq * bq).sum(axis=1)

    def cos(qv, qn, nv, nn):
        if qn <= 0 or nn <= 0:
            return float("-inf")
        return float(int(qv @ nv)) / math.sqrt(float(qn) * float(nn))

    def knn(q_ids, qq, qn, qp, n_ids, nn_, ncell, nq):
        out = {}
        for i in range(len(q_ids)):
            cand = []
            for j in range(len(n_ids)):
                if ncell[j] in qp[i]:
                    c = cos(qq[i], qn[i], nq[j], nn_[j])
                    cand.append((-c, int(n_ids[j]), c))
            cand.sort()
            out[int(q_ids[i])] = [(nid, c) for _, nid, c in cand[:k]]
        return out

    fwd = knn(a_ids, aq, a_nsq, a_probes, b_ids, b_nsq, b_cell, bq)
    bwd = knn(b_ids, bq, b_nsq, b_probes, a_ids, a_nsq, a_cell, aq)

    def bg(knn_map):
        out = {}
        for qid, lst in knn_map.items():
            if not lst:
                continue
            s = 0.0
            for _, c in lst:  # left fold in rank order
                s = s + c
            out[qid] = s / (2.0 * len(lst))
        return out

    bx, by = bg(fwd), bg(bwd)

    def best(knn_map, bg_q, bg_n):
        out = {}
        for qid, lst in knn_map.items():
            scored = []
            for nid, c in lst:
                if qid in bg_q and nid in bg_n:
                    scored.append((-(c / (bg_q[qid] + bg_n[nid])), nid))
            if scored:
                scored.sort()
                nm, nid = scored[0]
                out[qid] = (nid, -nm)
        return out

    best_f = best(fwd, bx, by)
    best_b = best(bwd, by, bx)
    rows = {}
    for sid, (tid, mgn) in best_f.items():
        mutual = best_b.get(tid, (None,))[0] == sid
        rows[sid] = (tid, math.floor(mgn * 1e6), mutual)
    return rows


def test_python_twin_on_sf0001(spark):
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = ivf_train_rows(emb, max_train=65536)
    cents = ivf_centroid_ints(rows, 16)
    src = emb.filter(F.col("label") < 5)
    tgt = emb.filter(F.col("label") >= 5)
    mined = bitext_mine(src, tgt, k=4, nprobe=4, centroid_ints=cents)
    assert isinstance(mined.schema["margin_e6"].dataType, LongType)
    out = {
        r["src_id"]: (r["tgt_id"], r["margin_e6"], r["mutual"])
        for r in mined.collect()
    }

    def mats(df):
        pdf = df.select("vec_id", "embedding").toPandas()
        return (
            pdf["vec_id"].to_numpy(),
            np.stack(pdf["embedding"].to_numpy()).astype(np.float64),
        )

    a_ids, a_vecs = mats(src)
    b_ids, b_vecs = mats(tgt)
    expect = _twin(a_ids, a_vecs, b_ids, b_vecs, cents, k=4, nprobe=4)
    # ids, flags and floored micro-margins all exact: the margins are
    # bit-identical doubles and floor has no tie rule to disagree on
    assert set(out) == set(expect)
    for sid, row in expect.items():
        assert out[sid] == row, sid
    assert len(out) > 0
    assert any(m for _, _, m in out.values())  # some mutual pairs exist
