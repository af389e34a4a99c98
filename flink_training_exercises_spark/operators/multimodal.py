"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed via Arrow-batched pandas UDFs.

The container has no image/audio codecs, so the *decode* steps are stubbed
two ways (task brief):
  * a real-codec path behind an import-try (PIL/librosa) raising
    NotImplementedError when absent, and
  * a DETERMINISTIC FAKE decode used by tests and the oracle-checked
    metadata query -- byte-derived dimensions, so the Spark-side plumbing
    (schema, batch shape, partitioning) is fully exercised.

The Spark-side design is the real thing: binary payloads stay columnar
through Arrow, `mapInPandas` streams record batches (bounded memory per
task: tune spark.sql.execution.arrow.maxRecordsPerBatch for large blobs),
and derived metadata is plain columns Catalyst can prune/push down.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def decoded_schema(id_col: str = "doc_id") -> str:
    return f"{id_col} long, byte_len int, format string, width int, height int, n_frames int"


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Testdata adapter: treat the utf8 text bytes as an opaque payload
    column (binary) with source metadata -- the shape a real multimodal
    table has (payload BINARY, media_type STRING, meta...). widen_scan so
    the Arrow-batched decode downstream gets full-machine parallelism even
    from a single-split local file (no-op at cluster scale)."""
    from ..sources.loaders import widen_scan

    docs = widen_scan(docs)
    return docs.select(
        F.col("doc_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("media_type"),
    )


def _fake_decode(payload: bytes) -> tuple[str, int, int, int]:
    """DETERMINISTIC FAKE decoder (no codecs in this environment): derives
    dimensions from byte content. Replace with PIL/av in production."""
    n = len(payload)
    fmt = "fake/even" if n % 2 == 0 else "fake/odd"
    width = 16 + (n % 320)
    height = 16 + ((n * 7) % 240)
    n_frames = 1 + (payload[0] % 8 if n else 0)
    return fmt, width, height, n_frames


def decode_media(docs_bin: DataFrame, id_col: str = "doc_id", use_real_codec: bool = False) -> DataFrame:
    """mapInPandas decode: payload -> (byte_len, format, width, height,
    n_frames). Real-codec path gated on import (NotImplementedError here)."""
    if use_real_codec:
        try:
            import PIL  # noqa: F401
        except ImportError as exc:  # pragma: no cover - env has no codecs
            raise NotImplementedError(
                "real media decode requires PIL/av, not present in this environment"
            ) from exc

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_fake_decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "byte_len": [len(p) for p in pdf["payload"]],
                    "format": [m[0] for m in metas],
                    "width": [m[1] for m in metas],
                    "height": [m[2] for m in metas],
                    "n_frames": [m[3] for m in metas],
                }
            )

    return docs_bin.select(id_col, "payload").mapInPandas(
        decode, schema=decoded_schema(id_col)
    )


def frame_sample(decoded: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame-sampling plan shape: one row per sampled frame index (explode of
    a sequence column -- columnar, no UDF)."""
    return decoded.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )


FEATURE_BUCKETS = 16


def extract_features(docs_bin: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Byte-histogram feature extraction over binary payloads -- unlike the
    decode step this is REAL (no codec needed): numpy over Arrow record
    batches, the exact plumbing a CLIP/whisper embedding UDF uses (swap the
    histogram for a model forward pass). Long-format sparse output
    (doc_id, bucket, cnt), only non-zero buckets."""
    import numpy as np

    div = 256 // FEATURE_BUCKETS

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            bks: list = []
            cnts: list = []
            for i, p in zip(pdf[id_col], pdf["payload"]):
                arr = np.frombuffer(bytes(p), dtype=np.uint8) // div
                hist = np.bincount(arr, minlength=FEATURE_BUCKETS)
                nz = np.nonzero(hist)[0]
                ids.extend([i] * len(nz))
                bks.extend(int(b) for b in nz)
                cnts.extend(int(c) for c in hist[nz])
            yield pd.DataFrame({id_col: ids, "bucket": bks, "cnt": cnts})

    return docs_bin.select(id_col, "payload").mapInPandas(
        feats, schema=f"{id_col} long, bucket int, cnt long"
    )


def resize_media(
    docs_bin: DataFrame,
    target_w: int = 64,
    target_h: int = 64,
    id_col: str = "doc_id",
    use_real_codec: bool = False,
) -> DataFrame:
    """Resize plumbing: binary payload in -> resized binary payload +
    dimensions out, streamed through Arrow batches (binary-in/binary-out is
    the shape an image-resize UDF has; bound task memory via
    spark.sql.execution.arrow.maxRecordsPerBatch). The codec itself is the
    documented deterministic fake (no PIL in this environment): output
    payload is the input truncated/cycled to target_w*target_h bytes --
    size-correct, content-deterministic, schema-real."""
    if use_real_codec:
        try:
            import PIL  # noqa: F401
        except ImportError as exc:  # pragma: no cover - env has no codecs
            raise NotImplementedError(
                "real media resize requires PIL, not present in this environment"
            ) from exc

    n_out = target_w * target_h

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for p in pdf["payload"]:
                b = bytes(p)
                if not b:
                    outs.append(b"\x00" * n_out)
                elif len(b) >= n_out:
                    outs.append(b[:n_out])
                else:
                    reps = -(-n_out // len(b))
                    outs.append((b * reps)[:n_out])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "payload": outs,
                    "width": target_w,
                    "height": target_h,
                }
            )

    return docs_bin.select(id_col, "payload").mapInPandas(
        resize, schema=f"{id_col} long, payload binary, width int, height int"
    )
