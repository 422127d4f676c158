"""PDF text extraction as a corpus operator.

The web-corpus text plane treats PDFs the way it treats HTML: a binary
payload column in, clean text out, one row per document, tolerant of
per-document corruption (``crossing.fan_out``).  The fixture corpus
wraps the SAME deterministic synthetic page text the KG pipeline consumes
(kernels/synth.make_page), so the oracle gold is the source text
itself — the extractor is never run on the gold side, certifying the
encode -> distributed-extract round-trip exactly like the media-codec
surfaces (multimodal.decode_stats).

Fixture statuses are planted deterministically: every 9th doc gets an
/Encrypt trailer (status ``unsupported`` — the deployment-build seam),
every 10th is truncated mid-object (status ``corrupt``); neither may
fail the stage.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .crossing import fan_out

PDF_CORPUS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), False),
    ]
)

PDF_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("status", StringType(), False),
        StructField("n_pages", IntegerType(), True),
        StructField("n_chars", LongType(), True),
        StructField("text_md5", StringType(), True),
    ]
)

LINES_PER_PAGE = 2


def pdf_source_lines(i: int, seed: int = 42) -> list[str]:
    """The text lines doc i carries: the synthetic page's paragraphs."""
    from ..kernels.synth import make_page

    page, _triples = make_page(i, seed)
    # the corpus plants null-text edge pages (u-series); they become a
    # single empty rendered line — the PDF plane must survive them too
    return (page["text"] or "").split(" | ")


def pdf_source_text(i: int, seed: int = 42) -> str:
    """What a correct extraction of doc i must return (pages joined by
    newline; each paragraph is one rendered line)."""
    return "\n".join(pdf_source_lines(i, seed))


def make_pdf_payload(i: int, seed: int = 42) -> bytes:
    """Deterministic PDF payload for doc i (make_page determinism
    pattern: pure function of (i, seed), so synthesis distributes).
    Every 9th doc is marked /Encrypt, every 10th truncated."""
    from ..kernels.pdf import encode_pdf

    lines = pdf_source_lines(i, seed)
    pages = [
        lines[k : k + LINES_PER_PAGE]
        for k in range(0, len(lines), LINES_PER_PAGE)
    ]
    payload = encode_pdf(pages, compress=True)
    if i % 9 == 4:
        payload = payload.replace(
            b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 99 0 R", 1
        )
    elif i % 10 == 7:
        payload = payload[: max(len(payload) // 3, 40)]
    return payload


def expected_pdf_row(i: int, seed: int = 42):
    """Gold row for doc i — computed from the SOURCE text only (the
    extractor is never invoked here)."""
    if i % 9 == 4:
        return (i, "unsupported", None, None, None)
    if i % 10 == 7:
        return (i, "corrupt", None, None, None)
    lines = pdf_source_lines(i, seed)
    text = pdf_source_text(i, seed)
    n_pages = -(-len(lines) // LINES_PER_PAGE)
    return (
        i, "ok", n_pages, len(text),
        hashlib.md5(text.encode("utf-8")).hexdigest(),
    )


def make_pdf_corpus(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """(doc_id, payload) of n deterministic PDFs, executor-side."""
    parts = min(n, 2 * spark.sparkContext.defaultParallelism)
    base = spark.range(0, n, numPartitions=parts)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [(int(i), make_pdf_payload(int(i), seed)) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return base.mapInPandas(build, schema=PDF_CORPUS_SCHEMA)


def pdf_text_row(doc_id: int, payload: bytes):
    """One document's ``PDF_TEXT_SCHEMA`` row."""
    return (doc_id, *_pdf_text_fields(payload))


def _pdf_text_fields(payload: bytes):
    """(status, n_pages, n_chars, text_md5) of one payload."""
    from ..kernels.pdf import extract_pdf_text

    try:
        pages = extract_pdf_text(payload)
    except NotImplementedError:
        return ("unsupported", None, None, None)
    except ValueError:
        return ("corrupt", None, None, None)
    text = "\n".join(pages)
    return (
        "ok", len(pages), len(text),
        hashlib.md5(text.encode("utf-8")).hexdigest(),
    )


def extract_pdf_texts(pdfs: DataFrame) -> DataFrame:
    """(doc_id, payload) -> per-doc extraction row.  Narrow plan:
    payloads are parsed inside the Arrow batch and only the 5 summary
    columns leave the scan stage; corrupt/encrypted docs become flagged
    rows, never stage failures (the html_to_text tolerance contract
    extended to the PDF plane)."""
    return fan_out(
        pdfs, ("doc_id",), ("payload",),
        lambda payload: (_pdf_text_fields(payload),), PDF_TEXT_SCHEMA.fields[1:],
    )
