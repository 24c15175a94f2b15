"""Checkpoint / lineage / resume semantics (FIXTURES.md §3):
crash mid-run, rerun, assert no duplicate (conv_id, turn_idx) rows and
full parity with an uncheckpointed run."""

import tempfile

import pytest

from pyspark.sql import functions as F

from docling_translate_spark.operators.extract import extract_turns_fused
from docling_translate_spark.operators.metrics import conversation_rollup, stat_records
from docling_translate_spark.schema import TRANSCRIPT_SCHEMA
from docling_translate_spark.sources.checkpoint import (
    SimulatedFailure,
    committed_units,
    read_lineage,
    read_output,
    run_extraction,
)
from docling_translate_spark.synth import gen_rows


@pytest.fixture(scope="module")
def transcripts(spark):
    return spark.createDataFrame(gen_rows(30, 5), TRANSCRIPT_SCHEMA).cache()


@pytest.mark.parametrize("n_parts", [1, 5])
@pytest.mark.parametrize("n_units", [3, 7])
def test_resume_after_crash(spark, transcripts, n_units, n_parts):
    """Crash after two units, resume, and the output must not depend on
    the unit count or on the input's partitioning."""
    tmp = tempfile.mkdtemp(prefix="dts-ckpt-")
    out_dir, ckpt_dir = f"{tmp}/out", f"{tmp}/ckpt"
    src = transcripts.repartition(n_parts)

    with pytest.raises(SimulatedFailure):
        run_extraction(
            spark, src, out_dir, ckpt_dir, run_id="r1",
            n_units=n_units, fail_after_units=2,
        )
    assert committed_units(spark, ckpt_dir, "r1") == {0, 1}

    # resume: only the remaining units run
    done = run_extraction(
        spark, src, out_dir, ckpt_dir, run_id="r1", n_units=n_units
    )
    assert done == set(range(2, n_units))
    assert committed_units(spark, ckpt_dir, "r1") == set(range(n_units))

    out = read_output(spark, out_dir)
    # idempotency: no duplicate turns
    n = out.count()
    assert out.select("conv_id", "turn_idx").distinct().count() == n
    # parity with a direct uncheckpointed run, in both directions
    direct = extract_turns_fused(transcripts)
    assert n == direct.count()
    assert out.drop("unit").exceptAll(direct).count() == 0
    assert direct.exceptAll(out.drop("unit")).count() == 0

    # lineage rows: one per unit with sane metrics
    lin = read_lineage(spark, ckpt_dir).collect()
    assert len(lin) == n_units
    assert sum(r["turns_processed"] for r in lin) == n
    assert all(r["run_id"] == "r1" for r in lin)


def test_lineage_observed_from_write(spark):
    """More units than conversations: every unit commits, empty ones with
    zero counts, and each unit's observed counts equal its written rows."""
    small = spark.createDataFrame(gen_rows(3, 3), TRANSCRIPT_SCHEMA)
    n_units = 8
    tmp = tempfile.mkdtemp(prefix="dts-ckpt-obs-")
    out_dir, ckpt_dir = f"{tmp}/out", f"{tmp}/ckpt"
    done = run_extraction(spark, small, out_dir, ckpt_dir, "r1", n_units=n_units)
    assert done == set(range(n_units))

    out = read_output(spark, out_dir)
    lin = {r["partition_id"]: r for r in read_lineage(spark, ckpt_dir).collect()}
    assert set(lin) == set(range(n_units))
    empty = 0
    for u, r in lin.items():
        rows = out.filter(F.col("unit") == u)
        assert r["turns_processed"] == rows.count(), u
        if r["turns_processed"] == 0:
            empty += 1
            assert r["spans_emitted"] == 0, u
            assert r["conv_id_min"] is None and r["conv_id_max"] is None, u
            continue
        exp = rows.agg(
            F.min("conv_id").alias("lo"),
            F.max("conv_id").alias("hi"),
            F.sum("n_spans").alias("spans"),
        ).first()
        assert (r["conv_id_min"], r["conv_id_max"]) == (exp["lo"], exp["hi"]), u
        assert r["spans_emitted"] == exp["spans"], u
    # at most 3 conversations land in 8 units
    assert empty >= n_units - 3


def test_unit_jobs_are_described(spark, transcripts):
    """Each unit's write and lineage append run under their own job
    description; every other job keeps the caller's, and the caller's
    group and description are in place after the call."""
    sc = spark.sparkContext
    group = "dts-ckpt-job-names"
    tmp = tempfile.mkdtemp(prefix="dts-ckpt-names-")
    sc.setJobGroup(group, "caller")
    try:
        run_extraction(spark, transcripts, f"{tmp}/out", f"{tmp}/ckpt", "r1", n_units=2)
        after = [sc.getLocalProperty(k) for k in ("spark.jobGroup.id", "spark.job.description")]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after == [group, "caller"]

    def get(opt):
        return opt.get() if opt.isDefined() else None

    jobs = sc._jsc.sc().statusStore().jobsList(None)  # a Scala Seq
    jobs = [jobs.apply(i) for i in range(jobs.size())]
    descriptions = [get(j.description()) for j in jobs if get(j.jobGroup()) == group]
    named = {f"checkpoint unit {u}: {step}" for u in (0, 1) for step in ("write", "lineage append")}
    assert named <= set(descriptions) <= named | {"caller"}


def test_rerun_noop(spark, transcripts):
    tmp = tempfile.mkdtemp(prefix="dts-ckpt2-")
    out_dir, ckpt_dir = f"{tmp}/out", f"{tmp}/ckpt"
    first = run_extraction(spark, transcripts, out_dir, ckpt_dir, "r1", n_units=3)
    assert first == {0, 1, 2}
    again = run_extraction(spark, transcripts, out_dir, ckpt_dir, "r1", n_units=3)
    assert again == set()  # fully committed → nothing to do


def test_conversation_rollup_salted(spark, transcripts):
    ext = extract_turns_fused(transcripts).cache()
    rolled = {r["conv_id"]: r for r in conversation_rollup(ext).collect()}
    plain = {
        r["conv_id"]: r
        for r in ext.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_spans").alias("n_spans"),
        )
        .collect()
    }
    assert set(rolled) == set(plain)
    for cid, r in rolled.items():
        assert r["n_turns"] == plain[cid]["n_turns"]
        assert r["n_spans"] == plain[cid]["n_spans"]
        assert 0.0 <= r["boilerplate_ratio"] <= 1.0


def test_stat_records(spark, transcripts):
    ext = extract_turns_fused(transcripts)
    stats = {r["metric"]: r["count"] for r in stat_records(ext).collect()}
    assert stats["turns_processed"] == transcripts.count()
    assert stats["spans_emitted"] > 0
    assert stats["chars_extracted"] > 0
