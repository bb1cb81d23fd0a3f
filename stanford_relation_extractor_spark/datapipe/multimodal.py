"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride Spark as `binary` columns with a metadata
struct; feature extraction runs as an Arrow-batched pandas UDF over
`mapInPandas` (bytes transfer via Arrow buffers, never Python pickling
per row). `byte_features` is the codec-free deterministic path the
driver oracle checks; codec decoders (BMP/WAV/JPEG/...) are not
implemented, since no query decodes a payload.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attach_payload(docs: DataFrame) -> DataFrame:
    """Simulate a multimodal table: utf-8 payload bytes + metadata struct."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length(F.encode(F.col("text"), "utf-8")).alias("n_bytes"),
        ).alias("meta"),
    )


def byte_features(multimodal: DataFrame) -> DataFrame:
    """(doc_id, mime, n_bytes, feat0): deterministic payload features.

    The real pipeline would decode and embed here; the batch/UDF shape
    (iterator of Arrow record batches, binary column in, fixed-width
    features out) is exactly what a codec-backed extractor uses.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = [len(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "n_bytes": n_bytes,
                    "feat0": [n % 7 for n in n_bytes],
                }
            )

    return multimodal.mapInPandas(
        run, schema="doc_id bigint, mime string, n_bytes int, feat0 int"
    )
