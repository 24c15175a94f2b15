"""Streaming extraction: the same fused per-turn pipeline over a
Structured Streaming source.

The reference is strictly batch (SURVEY §2.10); its only incremental
surface is the progress callback (``src/core.py:72``,
``src/translation/base.py:84-85``). The streaming analog here:

* :func:`stream_extract` — the fused zero-shuffle extraction operator is
  stateless per turn, so it runs unchanged on a ``readStream`` DataFrame
  (file source over the transcript table's directory, or any source with
  the transcript schema);
* :func:`stream_metrics` — windowed per-minute extraction metrics with a
  watermark for late turns, the streaming replacement for the progress
  callback (counts instead of a 0..1 ratio).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from docling_translate_spark.operators.extract import (
    ExtractConfig,
    extract_turns_fused,
)
from docling_translate_spark.schema import TRANSCRIPT_SCHEMA


def read_transcript_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 4,
    rich: bool = False,
) -> DataFrame:
    """File-source stream over a growing directory of transcript parquet.

    ``rich=True`` reads the extended shape with caption/cells/headers
    span-source columns (§2.8) — the fused kernel is stateless either
    way, so the streaming plan is unchanged.
    """
    from docling_translate_spark.schema import RICH_TRANSCRIPT_SCHEMA

    schema = RICH_TRANSCRIPT_SCHEMA if rich else TRANSCRIPT_SCHEMA
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_extract(stream: DataFrame, config: ExtractConfig | None = None) -> DataFrame:
    """Per-turn extraction on a stream — stateless mapInArrow, so any
    output mode works and no watermark is required."""
    return extract_turns_fused(stream, config)


def stream_dedup(stream: DataFrame, within: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same
    (conv_id, turn_idx) within the watermark horizon — the streaming
    analog of the batch A1 dedup, bounded-state by construction.

    ``dropDuplicatesWithinWatermark`` keys state on the id pair and
    evicts entries once the watermark passes, so state size is
    (arrival rate × horizon), not the full stream history — the only
    formulation that survives an unbounded transcript stream. Use
    upstream of :func:`stream_extract` when the transport is
    at-least-once (Kafka, file redelivery)."""
    return stream.withWatermark("ts", within).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def stream_ingest_dedup(
    stream: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    within: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``operators/dedup.py::dedup_incremental``'s
    exact stages — the continuous-crawl ingest gate as a live stream
    instead of periodic batches:

    1. WITHIN-STREAM exact: ``dropDuplicatesWithinWatermark`` keyed on
       the md5 content fingerprint — the first arrival of a text wins
       (arrival order replaces the batch op's min-id tie-break, the
       honest semantics for an unbounded stream), and state is bounded
       by (arrival rate × horizon) because fingerprint entries evict
       once the watermark passes.
    2. EXACT vs snapshot: a stream-static LEFT ANTI join against the
       committed snapshot's slim hash column (``text_hash`` accepted
       directly, the ``exact_dedup`` output convention). Stream-static
       anti joins are a supported stateless shape: the static side is
       re-planned per micro-batch, so a snapshot commit between batches
       is picked up without restarting the query.

    Stage 3 (cross-corpus near-dup) deliberately stays batch-side: a
    corpus-scale shingle join is not a supported streaming shape, and
    the design point is the same as the batch operator's — admitted
    rows land in the next snapshot, and the periodic compaction job
    runs the full :func:`..operators.dedup.dedup_incremental` gate.

    Rows with NULL ``text_col`` are dropped (md5(NULL) is NULL — the
    batch op's documented ingest-gate behavior, made explicit here
    because NULL watermark keys would otherwise pass through).

    Like the batch op, the stream must not carry a column named
    ``_fp`` (reserved; ValueError) — silently clobbering it would lose
    user data where the batch twin fails loudly.
    """
    if "_fp" in stream.columns:
        raise ValueError(
            "stream must not carry the reserved temp column '_fp' "
            "(same contract as dedup_incremental)"
        )
    fp = F.md5(F.col(text_col))
    b = (
        stream.filter(F.col(text_col).isNotNull())
        .withColumn("_fp", fp)
        .withWatermark(ts_col, within)
        .dropDuplicatesWithinWatermark(["_fp"])
    )
    if "text_hash" in seen.columns and text_col not in seen.columns:
        seen_fp = seen.select(F.col("text_hash").alias("_fp"))
    else:
        seen_fp = seen.select(F.md5(F.col(text_col)).alias("_fp"))
    return b.join(seen_fp, "_fp", "left_anti").drop("_fp")


def stream_metrics(stream: DataFrame) -> DataFrame:
    """Watermarked per-minute ingest metrics (late turns ≤ 2 minutes) —
    the streaming stand-in for the reference's progress callback."""
    return (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("win"))
        .agg(
            F.count("*").alias("turns"),
            F.sum(F.length("text")).alias("chars"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "turns",
            "chars",
        )
    )
