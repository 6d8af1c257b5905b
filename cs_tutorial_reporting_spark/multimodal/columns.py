"""[EXT] Multimodal columns: image/audio/video as opaque ``binary``
columns, decoded by pure per-row codecs inside ONE Arrow-batched
``mapInPandas`` pass (:func:`decode_pass`).

Every codec module (bmp/png/gif/jpeg/tiff/wav/avi/mjpeg/sniff) is pure
Python over bytes — a builder ``payload → container bytes`` and a
decoder ``container bytes → dict`` — with no Spark in it. The Spark
side is this one pass: select ``(doc_id, content)``, optionally fan a
narrow input out, run the row function per blob, declare the schema.
Swapping a pure-Python decoder for PIL/ffmpeg is a one-function change.

Scale notes: media bytes ride in the same rows as metadata (parquet
binary columns chunk fine at 100 TB); decode parallelism is row-group
parallelism; `spark.sql.execution.arrow.maxRecordsPerBatch` bounds the
pandas batch memory (set it low for large blobs).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import widen


def decode_pass(
    df: DataFrame,
    per_row: Callable[[int, bytes], dict | tuple],
    schema: str,
    fan_out: bool = False,
) -> DataFrame:
    """Run ``per_row(doc_id, content)`` over every row of ``df``'s
    ``(doc_id, content)`` columns in one Arrow batch pass, returning
    ``schema`` (a DDL string with a ``doc_id bigint`` field).

    ``per_row`` returns a dict keyed by the other schema fields (extra
    keys are dropped) or a tuple in their order. Spark matches the
    result columns to ``schema`` by name and Arrow casts them to its
    types, so no per-codec ``astype`` is needed. ``fan_out`` spreads a
    1-2 partition input to 2× the session parallelism first
    (``functions.widen``): worth it for the compute-bound decodes
    (jpeg, mjpeg, gif, scene detection, sniff), not for the cheap ones
    whose payload shuffle costs more than the decode."""
    names = [n for n in T.StructType.fromDDL(schema).names if n != "doc_id"]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            out = pd.DataFrame(
                [per_row(i, bytes(b)) for i, b in zip(ids, pdf["content"])],
                columns=names,
            )
            out["doc_id"] = ids
            yield out

    src = df.select("doc_id", "content")
    if fan_out:
        src = widen(src, "doc_id")
    return src.mapInPandas(op, schema)


def attach_media(df: DataFrame, payload_col, media_type: str, fmt: str) -> DataFrame:
    """Wrap a binary payload column into (content binary, meta struct) —
    the canonical multimodal column pair."""
    return df.withColumn("content", payload_col.cast("binary")).withColumn(
        "meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ),
    )


#: the decode schema the grayscale image codecs share (bmp/png/gif)
IMAGE_FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, n_pixels bigint, "
    "sum_rgb bigint, head_px int"
)

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, content_md5 string, head_byte int"
)


def byte_features(content: bytes) -> tuple[int, str, int]:
    """Deterministic stand-in decode: byte length, md5 checksum, first
    byte (-1 when empty). Pure function of the bytes ⇒ oracle-checkable
    in SQL (octet_length / md5 / hex-prefix of the encoded blob)."""
    return len(content), hashlib.md5(content).hexdigest(), (
        content[0] if content else -1
    )
