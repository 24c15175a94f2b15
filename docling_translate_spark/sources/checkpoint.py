"""Checkpointed, idempotently-resumable extraction job.

North-rule requirement: each partition writes lineage + extraction-metrics
rows to a checkpoint table so the job resumes from the last committed unit
(the reference's closest analog is its output-directory history scan,
``src/utils.py:126-178``). In production this is an Iceberg table and its
snapshot log; in-sandbox the same semantics are emulated with parquet:

* the conversation space is hash-bucketed (``pmod(xxhash64(conv_id), n)``)
  into **commit units**;
* per unit: extraction output is written with *dynamic partition
  overwrite* (so re-processing a unit replaces, never duplicates), THEN
  the lineage row is appended to the checkpoint table. Its counts are
  observed on the write job itself (``DataFrame.observe``), so each unit
  runs the extraction exactly once;
* on restart, units present in the checkpoint are skipped. A unit that
  crashed between data-write and checkpoint-append is simply re-overwritten
  — write-then-commit ordering makes the pipeline idempotent, exactly the
  guarantee an Iceberg snapshot commit gives atomically.

Skew note: hash-bucketing by conv_id spreads hot conversations' *units*
evenly; within a unit the extraction pipeline itself needs no salting
(see extract.py scale notes).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

from docling_translate_spark.operators.extract import (
    ExtractConfig,
    extract_turns_fused,
)
from docling_translate_spark.schema import LINEAGE_SCHEMA

# lineage columns known when the unit's write finishes; committed_ts is
# stamped as the row is appended
_LINEAGE_COLS = StructType(
    [f for f in LINEAGE_SCHEMA.fields if f.name != "committed_ts"]
)


class SimulatedFailure(RuntimeError):
    """Test hook: raised between unit commits to exercise resume."""


def unit_col(n_units: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_units)).cast("int")


def committed_units(spark: SparkSession, ckpt_dir: str, run_id: str) -> set[int]:
    """Units already committed for this run (empty if no checkpoint yet)."""
    try:
        ckpt = spark.read.parquet(ckpt_dir)
    except Exception:
        return set()
    rows = (
        ckpt.filter(F.col("run_id") == run_id)
        .select("partition_id")
        .distinct()
        .collect()
    )
    return {r["partition_id"] for r in rows}


def read_lineage(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    return spark.read.parquet(ckpt_dir)


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    run_id: str,
    n_units: int = 16,
    config: ExtractConfig | None = None,
    fail_after_units: int | None = None,
) -> set[int]:
    """Run (or resume) the checkpointed extraction job.

    Returns the set of units processed by THIS invocation. Safe to call
    repeatedly: completed units are skipped via the checkpoint, and a
    torn unit (data written, checkpoint row missing) is overwritten
    in-place thanks to dynamic partition overwrite.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    done = committed_units(spark, ckpt_dir, run_id)
    todo = [u for u in range(n_units) if u not in done]

    tagged = transcripts.withColumn("unit", unit_col(n_units))
    processed: set[int] = set()
    for i, u in enumerate(todo):
        if fail_after_units is not None and i >= fail_after_units:
            raise SimulatedFailure(f"simulated crash before unit {u}")
        # the lineage counts ride the data write itself: one extraction
        # per unit, no second pass over its output
        obs = Observation()
        out = extract_turns_fused(tagged.filter(F.col("unit") == u), config)
        out = out.withColumn("unit", F.lit(u)).observe(
            obs,
            F.min("conv_id").alias("conv_id_min"),
            F.max("conv_id").alias("conv_id_max"),
            F.count("*").alias("turns_processed"),
            F.sum("n_spans").cast("long").alias("spans_emitted"),
            F.avg("boilerplate_ratio").alias("boilerplate_ratio"),
        )
        # 1) data write (replaces any torn previous attempt of this unit)
        out.write.partitionBy("unit").mode("overwrite").parquet(out_dir)
        # 2) lineage/metrics commit — unit becomes durable only here
        m = obs.get
        row = (
            run_id,
            u,
            m["conv_id_min"],
            m["conv_id_max"],
            m["turns_processed"],
            m["spans_emitted"] or 0,  # sum over an empty unit is null
            m["boilerplate_ratio"],
        )
        spark.createDataFrame([row], _LINEAGE_COLS).withColumn(
            "committed_ts", F.current_timestamp()
        ).write.mode("append").parquet(ckpt_dir)
        processed.add(u)
    return processed


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(out_dir)
