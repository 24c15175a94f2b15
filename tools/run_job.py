"""Cluster entrypoint for the checkpointed extraction job.

Submitted via ``tools/submit.sh`` (spark-submit --py-files). Reads the
transcript table, runs (or resumes) the bucketed extraction, and prints
the lineage summary. Idempotent: rerun after any crash.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ckpt", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--units", type=int, default=64)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("dts-extract").getOrCreate()
    from docling_translate_spark.plans.session import prompt_accumulator_shutdown
    from docling_translate_spark.sources.checkpoint import (
        read_lineage,
        run_extraction,
    )

    # the final stop() then skips the accumulator handler's 1 s poll
    prompt_accumulator_shutdown(spark)

    transcripts = spark.read.parquet(args.input)
    done = run_extraction(
        spark, transcripts, args.out, args.ckpt, args.run_id, n_units=args.units
    )
    print(f"processed units this invocation: {sorted(done)}")
    read_lineage(spark, args.ckpt).orderBy("partition_id").show(200, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
