"""Text-plane tables: the pages and docs schemas and the docs strip.

``clean_pages`` is pages -> docs, the F12 contract (byte-identical
clean_text per url): the docs table that run_pipeline returns, doc
filters read and streaming near-dup shingles (``crossing.fan_out``).
Sentences, mentions and triples come from ``extraction.extract_plane``,
which runs the same strip inside its own single crossing.

Scale note: html never travels past the strip (select/prune
immediately), and the strip is narrow (no shuffle from parquet scan to
docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..kernels.textnorm import html_to_text
from .crossing import fan_out

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

DOCS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("lang", StringType(), True),
        StructField("clean_text", StringType(), True),
    ]
)


def clean_pages(pages: DataFrame) -> DataFrame:
    """pages -> docs: deterministic boilerplate strip (F12).

    The html column is dropped inside the same task; only
    (url, warc_ts, lang, clean_text) ever reach a shuffle.
    """

    def strip(html):
        yield (html_to_text(html) if html is not None else "",)

    return fan_out(
        pages, ("url", "warc_ts", "lang"), ("html",), strip, DOCS_SCHEMA.fields[3:]
    )
