"""Multimodal columns for training-data pipelines.

Images/audio/video ride through the engine as opaque ``binary`` columns
with typed metadata (the pattern the reference applies to PDFs/docx:
bytes in, ``mapInPandas`` parser out — pdf_spider.py:42-50,
document_spider.py:163-253, generalized to media). The decode step is
STUBBED — the image/audio libraries are not in this container — but the
Spark-side plumbing is real and oracle-checked:

- schema: ``content binary`` + typed metadata struct;
- transfer: Arrow-batched ``mapInPandas`` (bytes arrive as Python
  ``bytes`` per row, never row-at-a-time pickling);
- batch shape: the UDF is iterator-of-DataFrames, so one task decodes
  many rows per Arrow batch;
- fan-out: frame sampling is a UDTF shape (N frame rows per media row).

``deterministic_features``/``sample_frames`` compute md5-derived fake
features so correctness is checkable against a DuckDB oracle. A real
decoder (PIL/librosa/ffmpeg) drops in by replacing the inner per-batch
function only — the plan shape does not change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source", T.StringType(), True),
                    T.StructField("declared_w", T.IntegerType(), True),
                    T.StructField("declared_h", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("content_md5", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("feat", T.ArrayType(T.DoubleType()), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_md5", T.StringType(), False),
    ]
)


def synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media corpus from the ``documents`` table:
    content = utf-8 bytes of the text, modality cycles by doc_id.
    Stands in for `spark.read.format('binaryFile')` over a media lake."""
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        modality.alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.col("source").alias("source"),
            F.lit(None).cast("int").alias("declared_w"),
            F.lit(None).cast("int").alias("declared_h"),
            F.when(modality == "audio", 16000).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


def _fake_decode(content: bytes) -> tuple[int, str, int, int, list[float]]:
    """Stub decoder: md5-derived pseudo-decode. Replace with PIL et al.
    for real media; signature (bytes) -> (n_bytes, md5, w, h, feat)."""
    d = hashlib.md5(content)
    dig = d.digest()
    width = 16 + dig[0] % 240
    height = 16 + dig[1] % 240
    feat = [b / 255.0 for b in dig[:8]]
    return len(content), d.hexdigest(), width, height, feat


def extract_image_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode + feature extraction over binary content.

    At 100 TB this is the canonical shape: narrow map, no shuffle; the
    scan partitions by file/row-group and each task decodes its batch.
    """

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = [
                (int(mid), *_fake_decode(bytes(content)))
                for mid, content in zip(pdf["media_id"], pdf["content"])
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_bytes",
                    "content_md5",
                    "width",
                    "height",
                    "feat",
                ],
            )

    from nashville_etl_service_backup_spark.operators import spread

    return spread(media.select("media_id", "content")).mapInPandas(
        decode, schema=IMAGE_FEATURES_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_sec", T.DoubleType(), True),
        T.StructField("rms_lo", T.DoubleType(), True),
        T.StructField("rms_hi", T.DoubleType(), True),
    ]
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Audio decode plumbing: duration from byte length / sample rate,
    md5-derived stand-ins for band RMS. No rounding anywhere — every
    output is an exact integer-derived double, so the DuckDB oracle
    reproduces it bit-for-bit. A real decoder (librosa/soundfile) swaps
    in for the inner function only."""

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, content, sr in zip(
                pdf["media_id"], pdf["content"], pdf["sample_rate"]
            ):
                b = bytes(content)
                dig = hashlib.md5(b).digest()
                sr_i = int(sr)
                rows.append(
                    (
                        int(mid),
                        len(b),
                        sr_i,
                        len(b) / float(sr_i),
                        dig[2] / 255.0,
                        dig[3] / 255.0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_bytes",
                    "sample_rate",
                    "duration_sec",
                    "rms_lo",
                    "rms_hi",
                ],
            )

    from nashville_etl_service_backup_spark.operators import spread

    return spread(
        media.select(
            "media_id", "content", F.col("meta.sample_rate").alias("sample_rate")
        )
    ).mapInPandas(decode, schema=AUDIO_FEATURES_SCHEMA)


def sample_frames(
    media: DataFrame, frame_bytes: int = 64, every: int = 4
) -> DataFrame:
    """UDTF-shaped frame sampling: split content into fixed-size byte
    "frames", keep every ``every``-th, one output row per kept frame.
    Real video sampling (ffmpeg keyframes) replaces the splitter only."""

    def sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out: list[tuple[int, int, str]] = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for idx in range(0, n_frames, every):
                    chunk = b[idx * frame_bytes : (idx + 1) * frame_bytes]
                    out.append((int(mid), idx, hashlib.md5(chunk).hexdigest()))
            yield pd.DataFrame(out, columns=["media_id", "frame_idx", "frame_md5"])

    from nashville_etl_service_backup_spark.operators import spread

    return spread(media.select("media_id", "content")).mapInPandas(
        sample, schema=FRAME_SCHEMA
    )


def phash_near_dup_pairs(
    media: DataFrame,
    frame_bytes: int = 64,
    every: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Perceptual-hash near-duplicate detection over binary media — the
    multimodal twin of text SimHash (the aggregate-local-features idea
    behind pHash/blockhash image fingerprints): per media item, hash
    each sampled frame (sample_frames — Arrow-batched, UDTF-shaped),
    accumulate the frame hashes into one 64-bit signed-vote signature
    (dedup.simhash64_from_hashes — order-independent, so the unordered
    frame aggregate is safe), then find pairs within Hamming distance
    ``max_hamming`` via the shared 4×16-bit pigeonhole bucket join
    (dedup.simhash_pairs_from_sigs). Media sharing most frames (edits,
    re-encodes of the same asset under a frame-stable codec) land
    within a few bits.

    With a real decoder the per-frame md5 becomes a visual descriptor
    hash (DCT block signs, keyframe signatures); the aggregation,
    bucketing, and verify algebra — the parts that must scale — do not
    change. Scale shape: narrow decode map → one map-side-combinable
    collect per media id → equi-join on 16-bit chunks; only 64-char
    signatures ever shuffle, never media bytes.

    Output: (id_a, id_b, hamming), id_a < id_b."""
    from nashville_etl_service_backup_spark.operators.dedup import (
        simhash64_from_hashes,
        simhash_pairs_from_sigs,
    )

    frames = sample_frames(media, frame_bytes=frame_bytes, every=every)
    sigs = frames.groupBy("media_id").agg(
        F.collect_list("frame_md5").alias("_hs")
    )
    base = sigs.select(
        F.col("media_id").alias("doc_id"),
        simhash64_from_hashes(F.col("_hs")).alias("sig"),
    )
    pairs = simhash_pairs_from_sigs(base, max_hamming)
    return pairs.select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        "hamming",
    )
