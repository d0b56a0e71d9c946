"""WARC (Web ARChive) record support — the ingestion format of
Common Crawl, which is where web-scale training corpora actually come
from. Spark-first shape: records are opaque binary column values
(one gzip member per record, exactly the `.warc.gz` convention — each
record is independently decompressible, which is what makes the format
splittable at scale), parsed in Arrow-batched mapInPandas kernels with
the same column-in/column-out contract as the media decoders.

The synth twin builds spec-shaped WARC/1.0 response records (version
line, named headers, double-CRLF separator, Content-Length-bounded
block, trailing double-CRLF) gzip-compressed per record; the parser
walks them back with only the stdlib. Both ends are exercised by an
exact-hash oracle over closed-form features.

Scale notes: at 100 TB the records arrive as `binaryFile`/custom-split
reads of .warc.gz shards; per-record gzip members mean a shard splits
on member boundaries and each task decompresses only its slice. The
kernel here is the per-record stage of that pipeline.
"""

from __future__ import annotations

import gzip
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.partitioning import fan_out
from ..operators.multimodal import _decode_kernel
from pyspark.sql.types import LongType, StringType, StructField, StructType

_CRLF = b"\r\n"


def synth_warc_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One gzip-member WARC/1.0 response record per row, the document
    text as the content block. Deterministic: fixed WARC-Date, record
    id derived from the row id, gzip with mtime=0 so identical inputs
    give identical bytes."""
    import io

    from pyspark.sql.types import BinaryType

    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("payload", BinaryType(), True),
        ]
    )
    id_name, text_name = id_col, text_col

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def build(did: int, text: str) -> bytes:
            body = ("" if text is None else text).encode("utf-8")
            headers = (
                b"WARC/1.0" + _CRLF
                + b"WARC-Type: response" + _CRLF
                + (
                    "WARC-Record-ID: <urn:uuid:%032x>" % did
                ).encode("ascii") + _CRLF
                + b"WARC-Date: 2024-01-01T00:00:00Z" + _CRLF
                + (
                    "WARC-Target-URI: https://example.org/doc/%d" % did
                ).encode("ascii") + _CRLF
                + ("Content-Length: %d" % len(body)).encode("ascii") + _CRLF
                + _CRLF
            )
            record = headers + body + _CRLF + _CRLF
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(record)
            return buf.getvalue()

        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_name: pdf[id_name],
                    "payload": [
                        build(int(i), t)
                        for i, t in zip(pdf[id_name], pdf[text_name])
                    ],
                }
            )

    return fan_out(df.select(id_name, text_name)).mapInPandas(
        kernel, schema=out_schema
    )


def _warc_features(buf: bytes) -> tuple:
    record = gzip.decompress(buf)
    head, _, rest = record.partition(_CRLF + _CRLF)
    lines = head.split(_CRLF)
    if not lines[0].startswith(b"WARC/"):
        raise ValueError("not a WARC record")
    headers = {}
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        headers[k.strip().lower()] = v.strip()
    clen = int(headers[b"content-length"])
    content = rest[:clen]
    if rest[clen : clen + 4] != _CRLF + _CRLF:
        raise ValueError("bad record end")
    text = content.decode("utf-8")
    n_words = len([w for w in text.lower().split() if w])
    return (
        headers[b"warc-type"].decode("ascii"),
        headers[b"warc-target-uri"].decode("ascii"),
        clen,
        n_words,
    )


def parse_warc_features(
    df: DataFrame, id_col: str, payload_col: str = "payload",
    on_error: str = "raise",
) -> DataFrame:
    """Parse a gzip-member WARC record back: inflate, split the header
    block at the first CRLFCRLF, read the version line and named
    headers, take exactly Content-Length bytes of content. Features:
    (warc_type, target_uri, content_length, n_words) — the fields a
    crawl-ingestion pipeline keys on before text extraction. Same
    kernel wrapper and dead-letter option as the media decoders."""
    fields = [
        ("warc_type", StringType()), ("target_uri", StringType()),
        ("content_length", LongType()), ("n_words", LongType()),
    ]
    return _decode_kernel(df, id_col, payload_col, fields, _warc_features, on_error)
