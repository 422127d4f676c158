"""Text-plane tables: the pages and docs schemas and the docs strip.

``clean_pages`` is pages -> docs, the F12 contract (byte-identical
clean_text per url): the docs table that run_pipeline returns, doc
filters read and streaming near-dup shingles.  Sentences, mentions and triples come from
``operators.extraction.extract_plane``, which runs the same strip
inside its own single Arrow crossing.

Scale note: html never travels past the strip (select/prune
immediately), and the strip is narrow (no shuffle from parquet scan to
docs).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..kernels.textnorm import html_to_text

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
    src = pages.select("url", "warc_ts", "lang", "html")

    def strip_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "lang": pdf["lang"],
                    "clean_text": [
                        html_to_text(h) if h is not None else ""
                        for h in pdf["html"]
                    ],
                }
            )

    return src.mapInPandas(strip_batches, schema=DOCS_SCHEMA)
