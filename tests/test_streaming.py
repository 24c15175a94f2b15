"""Structured Streaming fixtures: the fused extraction runs on a stream
and matches the batch result; windowed metrics aggregate with watermark."""

import tempfile

import pytest

from docling_translate_spark.operators.extract import extract_turns_fused
from docling_translate_spark.schema import TRANSCRIPT_SCHEMA
from docling_translate_spark.streaming.extract_stream import (
    read_transcript_stream,
    stream_extract,
    stream_metrics,
)
from docling_translate_spark.synth import gen_rows


@pytest.fixture(scope="module")
def transcript_dir(spark):
    tmp = tempfile.mkdtemp(prefix="dts-stream-")
    df = spark.createDataFrame(gen_rows(12, 5), TRANSCRIPT_SCHEMA)
    df.coalesce(4).write.mode("overwrite").parquet(tmp + "/in")
    return tmp


def test_stream_extract_matches_batch(spark, transcript_dir):
    src = transcript_dir + "/in"
    stream = read_transcript_stream(spark, src, max_files_per_trigger=2)
    assert stream.isStreaming
    out = stream_extract(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("ext_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["conv_id"], r["turn_idx"]): r["extracted_text"]
        for r in spark.sql("select * from ext_stream").collect()
    }
    batch = {
        (r["conv_id"], r["turn_idx"]): r["extracted_text"]
        for r in extract_turns_fused(spark.read.parquet(src)).collect()
    }
    assert got == batch


def test_stream_metrics_windows(spark, transcript_dir):
    src = transcript_dir + "/in"
    stream = read_transcript_stream(spark, src)
    m = stream_metrics(stream)
    q = (
        m.writeStream.format("memory")
        .queryName("metrics_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from metrics_stream").collect()
    # append mode only emits closed windows; with availableNow the final
    # watermark may hold some open — at minimum the shape is validated
    for r in rows:
        assert r["turns"] > 0
        assert r["window_end"] > r["window_start"]


def test_stream_dedup_drops_redeliveries(spark, transcript_dir):
    """At-least-once transport: duplicated turn deliveries within the
    watermark horizon collapse to one row; the deduped stream then
    matches batch extraction of the unique turns."""
    import shutil

    from docling_translate_spark.streaming.extract_stream import stream_dedup

    src = transcript_dir + "/dup_in"
    shutil.rmtree(src, ignore_errors=True)
    base = spark.read.parquet(transcript_dir + "/in")
    # redeliver every turn twice (two files, identical content)
    base.coalesce(1).write.mode("overwrite").parquet(src)
    base.coalesce(1).write.mode("append").parquet(src)
    assert spark.read.parquet(src).count() == 2 * base.count()

    stream = read_transcript_stream(spark, src, max_files_per_trigger=8)
    deduped = stream_extract(stream_dedup(stream, within="10 minutes"))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select conv_id, turn_idx from dedup_stream").collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in got]
    assert len(keys) == len(set(keys)) == base.count()


def test_stream_extract_rich_schema_matches_batch(spark):
    """§2.8 span sources flow through the streaming path unchanged: the
    fused kernel is stateless, so caption/cell/header spans on a stream
    must equal the batch result row for row."""
    import tempfile

    from docling_translate_spark.schema import RICH_TRANSCRIPT_SCHEMA

    tmp = tempfile.mkdtemp(prefix="dts-stream-rich-")
    rows = [
        ("c1", 0, "user", "Body paragraph one.", None, None,
         "Figure 1: cap", [["a", "b"]], ["h1", "h2"]),
        ("c1", 1, "tool", "", None, None, "caption only", None, None),
        ("c2", 0, "user", "Plain body.", None, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, RICH_TRANSCRIPT_SCHEMA)
    df.coalesce(2).write.mode("overwrite").parquet(tmp + "/in")

    stream = read_transcript_stream(spark, tmp + "/in", rich=True)
    q = (
        stream_extract(stream)
        .writeStream.format("memory")
        .queryName("rich_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["conv_id"], r["turn_idx"]): (r["extracted_text"], r["n_spans"])
        for r in spark.sql("select * from rich_stream").collect()
    }
    batch = {
        (r["conv_id"], r["turn_idx"]): (r["extracted_text"], r["n_spans"])
        for r in extract_turns_fused(spark.read.parquet(tmp + "/in")).collect()
    }
    assert got == batch
    assert got[("c1", 1)][1] == 1  # caption-only turn carries one span
    assert "Figure 1: cap" in got[("c1", 0)][0]

def test_stream_ingest_dedup(spark, transcript_dir):
    """The streaming ingest gate: within-stream content duplicates
    collapse, snapshot texts are rejected, NULL texts are dropped, and
    the admitted TEXT set equals the batch dedup_incremental gate's
    (near_dup=False) on the identical batch∪snapshot split."""
    import datetime
    import shutil

    from pyspark.sql import functions as F

    from docling_translate_spark.operators.dedup import (
        build_ingest_index,
        dedup_incremental,
    )
    from docling_translate_spark.streaming.extract_stream import (
        stream_ingest_dedup,
    )

    src = transcript_dir + "/ingest_in"
    shutil.rmtree(src, ignore_errors=True)
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [("c", i, "user", txt, None, t0) for i, txt in enumerate(rows, start)],
        TRANSCRIPT_SCHEMA,
    )
    start = 0
    batch_rows = ["fresh one", "fresh two", "dup text", "dup text",
                  "snapped text", None]
    mk(batch_rows).coalesce(1).write.mode("overwrite").parquet(src)
    seen = spark.createDataFrame(
        [(100, "snapped text"), (101, "old text")], "doc_id long, text string"
    )

    stream = read_transcript_stream(spark, src, max_files_per_trigger=8)
    q = (
        stream_ingest_dedup(stream, seen)
        .writeStream.format("memory")
        .queryName("ingest_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r["text"] for r in spark.sql("select text from ingest_stream").collect()
    )
    assert got == ["dup text", "fresh one", "fresh two"]

    # equivalence with the batch gate on the same split (text sets —
    # the batch op tie-breaks by min id, the stream by arrival order)
    b = spark.createDataFrame(
        [(i, t) for i, t in enumerate(batch_rows)], "doc_id long, text string"
    )
    batch_admitted = sorted(
        r["text"]
        for r in dedup_incremental(
            b, build_ingest_index(seen), near_dup=False
        ).collect()
    )
    assert batch_admitted == got

    # hash-only snapshot path (the at-scale shape: hashes, not text)
    seen_h = seen.select("doc_id", F.md5("text").alias("text_hash"))
    q2 = (
        stream_ingest_dedup(read_transcript_stream(spark, src), seen_h)
        .writeStream.format("memory")
        .queryName("ingest_stream_h")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got_h = sorted(
        r["text"] for r in spark.sql("select text from ingest_stream_h").collect()
    )
    assert got_h == got

    # reserved-column contract matches the batch twin: raise, never
    # silently clobber a user '_fp' column
    with pytest.raises(ValueError, match="_fp"):
        stream_ingest_dedup(
            read_transcript_stream(spark, src).withColumn(
                "_fp", F.lit("user data")
            ),
            seen,
        )
