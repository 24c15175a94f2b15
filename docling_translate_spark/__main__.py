"""CLI entrypoint — the engine's analog of the reference's ``main.py``.

Reference CLI: ``python main.py file.pdf --engine google --workers 8``
(``main.py:40-65``). Engine analog::

    python -m docling_translate_spark --input transcripts.parquet \
        --out out_dir --ckpt ckpt_dir --engine identity \
        [--cores N] [--sentence-split] [--run-id r1] [--units 64]

Runs the checkpointed, idempotently-resumable extraction job locally;
on a cluster use ``tools/submit.sh`` (spark-submit --py-files).
"""

from __future__ import annotations

import argparse
import os

from docling_translate_spark.extract_map import ENGINES


def main() -> None:
    ap = argparse.ArgumentParser(prog="docling_translate_spark")
    ap.add_argument("--input", required=True, help="transcript parquet path")
    ap.add_argument("--out", required=True, help="output table dir")
    ap.add_argument("--ckpt", required=True, help="checkpoint/lineage dir")
    ap.add_argument(
        "--engine", default="identity", choices=sorted(ENGINES),
        help="map engine (reference --engine analog)",
    )
    ap.add_argument("--sentence-split", action="store_true")
    ap.add_argument(
        "--cores", type=int, default=max(1, len(os.sched_getaffinity(0)) // 2),
        help="local parallelism (reference --workers analog; default half "
        "the host's cores)",
    )
    ap.add_argument("--run-id", default="cli-run")
    ap.add_argument("--units", type=int, default=16)
    args = ap.parse_args()

    from docling_translate_spark.operators.extract import ExtractConfig
    from docling_translate_spark.plans.session import build_session
    from docling_translate_spark.sources.checkpoint import (
        read_lineage,
        run_extraction,
    )

    spark = build_session(master=f"local[{args.cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    transcripts = spark.read.parquet(args.input)
    done = run_extraction(
        spark,
        transcripts,
        args.out,
        args.ckpt,
        args.run_id,
        n_units=args.units,
        config=ExtractConfig(
            engine=args.engine, sentence_split=args.sentence_split
        ),
    )
    print(f"processed units: {sorted(done)}")
    lineage = read_lineage(spark, args.ckpt)
    totals = lineage.groupBy().sum("turns_processed", "spans_emitted").collect()[0]
    print(
        f"total turns={totals[0]} spans={totals[1]} "
        f"(lineage rows: {lineage.count()})"
    )
    spark.stop()


if __name__ == "__main__":
    main()
