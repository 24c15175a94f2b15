"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The reference handles images as PNG bytes saved per document
(reference ``src/utils.py:25-77``) and re-embedded as base64 data URIs
(``src/utils.py:95-124``). A transcript-scale pipeline carries media as
``binary`` columns with typed metadata instead. Decode, image features
and resize run as ``mapInArrow`` kernels that read and write Arrow
through ``arrow_io``; the synthetic media table, byte counts and content
fingerprints are column expressions, the same SQL the DuckDB oracle
writes.

The image/audio codec libraries are not in this container, so the decode
kernels are STUBBED: ``decode_image`` raises ``NotImplementedError``
unless ``fake=True``, in which case a deterministic fake decoder produces
byte-derived features. The Spark-side plumbing — schema, partitioning,
UDF signature, Arrow batch shape — is real and tested; swapping the fake
for Pillow/ffmpeg is a one-function change.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from docling_translate_spark.arrow_io import float64_array, int32_array, read_strings

_MIMES = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", IntegerType(), False),
        StructField("hex_sha256", StringType(), False),
        StructField("features", ArrayType(DoubleType()), True),
    ]
)


def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """Decode an image payload to a 2-D uint8 grayscale array.

    Real path: Pillow, behind an optional import — production-real
    wherever the dependency exists (the reference's image handling is
    PNG bytes via PIL, ``src/utils.py:25-77``). Where Pillow is absent
    (this container), the real path raises and ``fake=True`` selects
    the deterministic crc-seeded test decoder, which keeps the Spark
    plumbing (schema, batch shape, pooling math) fully exercised."""
    if not fake:
        try:
            from PIL import Image  # optional dependency
        except ImportError as e:
            raise NotImplementedError(
                "image decoding requires Pillow/libjpeg (not in this "
                "container); use fake=True for the deterministic test "
                "decoder"
            ) from e
        import io

        with Image.open(io.BytesIO(payload)) as im:
            return np.asarray(im.convert("L"), dtype=np.uint8)
    # deterministic fake: bytes → 8x8 "pixels" via crc32 seeding
    seed = zlib.crc32(payload or b"")
    rng = np.random.RandomState(seed % (2**31))
    return rng.randint(0, 256, size=(8, 8), dtype=np.uint8)


def synth_media_df(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table for exercising the plumbing:
    ``media_id``, ``conv_id``, ``turn_idx``, ``kind`` (image | audio |
    video), ``mime``, a binary ``payload`` (``sha256('media-' || id)``
    repeated ``id % 4 + 1`` times) and the nullable ints ``width``,
    ``height`` and ``duration_ms``. Column expressions over
    ``spark.range``: the recipe the DuckDB oracle rebuilds it with."""
    i = F.col("id")
    pick = (i % 3 + 1).cast("int")
    kind = F.element_at(F.array(*map(F.lit, _MIMES)), pick)
    digest = F.sha2(F.concat(F.lit("media-"), i.cast("string")), 256)
    return spark.range(0, n, 1, numPartitions=max(n // 32, 4)).select(
        i.alias("media_id"),
        F.format_string("conv-%06d", i % 10).alias("conv_id"),
        (i % 7).cast("int").alias("turn_idx"),
        kind.alias("kind"),
        F.element_at(F.array(*map(F.lit, _MIMES.values())), pick).alias("mime"),
        F.unhex(F.repeat(digest, (i % 4 + 1).cast("int"))).alias("payload"),
        F.when(kind != "audio", 64).alias("width"),
        F.when(kind != "audio", 48).alias("height"),
        F.when(kind != "image", (i + 1000).cast("int")).alias("duration_ms"),
    )


def _float_lists(flat: list, width: int) -> pa.ListArray:
    """``len(flat) // width`` lists of ``width`` doubles, built the way
    the fused extraction kernel builds ``spans``."""
    return pa.ListArray.from_arrays(
        int32_array(range(0, len(flat) + 1, width)), float64_array(flat)
    )


def extract_media_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """:data:`FEATURE_SCHEMA` rows of a media table. ``n_bytes`` and
    ``hex_sha256`` are column expressions; only ``features`` is
    computed in Python, by a ``mapInArrow`` kernel that passes the other
    columns through. The decode step is the stubbed kernel above.

    The content fingerprint is over the canonical UPPERCASE-HEX text of
    the payload (not the raw bytes): SQL engines whose sha256 is
    VARCHAR-only (DuckDB) reproduce it as ``sha256(upper(hex(payload)))``,
    which makes the whole binary-plumbing path oracle-checkable end to
    end. A null payload counts as empty.
    """

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            flat = []
            for kind, data in zip(read_strings(rb.column(1)), rb.column(4).to_pylist()):
                if kind == "image":
                    px = decode_image(data, fake=fake_decode).astype(np.float64)
                else:
                    # byte-level stats stand in for audio/video features
                    px = np.frombuffer(data, dtype=np.uint8).astype(np.float64)
                flat += [px.mean(), px.std(), px.min(), px.max()] if len(px) else [0.0] * 4
            yield pa.RecordBatch.from_arrays(
                [*rb.columns[:4], _float_lists(flat, 4)], names=FEATURE_SCHEMA.names
            )

    payload = F.coalesce(F.col("payload"), F.lit(bytearray()))
    return media.select(
        F.col("media_id").cast("long"),
        "kind",
        F.length(payload).alias("n_bytes"),
        F.sha2(F.upper(F.hex(payload)), 256).alias("hex_sha256"),
        payload.alias("payload"),
    ).mapInArrow(gen, FEATURE_SCHEMA)


def resize_images(
    media: DataFrame, out_w: int = 4, out_h: int = 4, fake_decode: bool = True
) -> DataFrame:
    """Image resize kernel: decode → mean-pool to (out_h, out_w) →
    re-emit flattened pixels, one ``mapInArrow`` pass over the image
    rows. The decode is the stubbed kernel (real codecs absent in this
    container), the pooling math and the Spark plumbing are real.

    At corpus scale this is the thumbnail/feature-preproc stage: one
    narrow pass, output rows are fixed-width float arrays ready for an
    embedding model's input pipeline."""

    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
            StructField("pixels", ArrayType(DoubleType()), False),
        ]
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            flat = []
            for payload in rb.column(1).to_pylist():
                px = decode_image(payload, fake=fake_decode).astype(np.float64)
                h, w = px.shape
                # mean-pool to the target grid (block average; block
                # edges by integer rounding — deterministic)
                ys = np.linspace(0, h, out_h + 1).astype(int)
                xs = np.linspace(0, w, out_w + 1).astype(int)
                flat += [
                    px[ys[r] : max(ys[r + 1], ys[r] + 1),
                       xs[c] : max(xs[c + 1], xs[c] + 1)].mean()
                    for r in range(out_h)
                    for c in range(out_w)
                ]
            n = rb.num_rows
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    int32_array([out_w] * n),
                    int32_array([out_h] * n),
                    _float_lists(flat, out_w * out_h),
                ],
                names=out_schema.names,
            )

    return (
        media.filter(F.col("kind") == "image")
        .select(F.col("media_id").cast("long"), "payload")
        .mapInArrow(gen, out_schema)
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 250) -> DataFrame:
    """Video frame-sampling plan: one row per planned frame (pure column
    expressions — the decode itself is the stubbed kernel)."""
    frames = F.sequence(
        F.lit(0),
        F.greatest((F.col("duration_ms") / every_ms).cast("int") - 1, F.lit(0)),
    )
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(frames).alias("frame_no"),
        )
        .withColumn("sample_ms", F.col("frame_no") * every_ms)
    )
