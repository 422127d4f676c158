"""Incremental ingest via Structured Streaming (SURVEY §2.9).

The reference has no event-time streaming (its StreamReadDataset,
rex/data/dataset.py:59-93, is a lazy iterator = mapPartitions
semantics); the batch pipeline is primary.  This module is the
optional incremental path: new page files landing in a directory are
picked up by ``readStream``, run through the SAME batch stage
functions inside ``foreachBatch``, and appended to the same output
tables — one code path for the transforms, two drivers (batch rerun vs
micro-batch).

Scale notes: ``maxFilesPerTrigger`` bounds micro-batch size; the
``warc_ts`` watermark bounds state for the windowed aggregation; all
heavy lifting stays in the batch operators, so everything said about
their partitioning/skew behavior applies unchanged.
"""

from __future__ import annotations

import glob
import os
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.stages import ParquetStageBackend, recover_swap
from ..operators.extraction import document_triple_set, extract_plane, plane_triples
from ..operators.textplane import PAGES_SCHEMA, clean_pages


def stream_pages(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """Streaming source over a directory of pages parquet files
    (the sandbox stand-in for an Iceberg incremental-read stream)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def stream_warc_pages(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """Streaming source over a GROWING crawl directory of raw
    *.warc(.gz) files: binaryFile file stream -> io/warc record
    fan-out inside the Arrow batch -> PAGES_SCHEMA rows (text/lang
    null — a raw dump has neither; the pipeline recomputes).  New
    crawl files landing in ``path`` become micro-batches, so the
    same replay-guarded foreachBatch pipeline that consumes the parquet
    stream consumes the crawl as it is written.

    A corrupt file contributes the records before its first bad byte
    and nothing after (read_warc's ``corrupt="skip"``): a failed
    micro-batch would replay the same file on every retry."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from ..io.warc import expand_warc_records

    bin_schema = StructType(
        [
            StructField("path", StringType(), True),
            StructField("modificationTime", TimestampType(), True),
            StructField("length", LongType(), True),
            StructField("content", BinaryType(), True),
        ]
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(bin_schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(path)
    )
    return expand_warc_records(files, PAGES_SCHEMA, "skip")


def _has_batch(spark: SparkSession, path: str, batch_id: int) -> bool:
    try:
        df = spark.read.parquet(path)
    except AnalysisException:  # no table yet
        return False
    return df.where(F.col("batch_id") == batch_id).limit(1).count() > 0


def _append_once(batch_df: DataFrame, path: str, batch_id: int,
                 rows: Callable[[], DataFrame]) -> None:
    """Append ``rows()`` stamped with ``batch_id`` to the parquet table
    at ``path`` unless it already holds that batch, so a replayed
    micro-batch (foreachBatch is at-least-once) neither builds nor
    appends its rows again."""
    if not _has_batch(batch_df.sparkSession, path, batch_id):
        rows().withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(path)


def _drain(stream: DataFrame, process: Callable[[DataFrame, int], None],
           checkpoint_dir: str, available_now: bool):
    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_triples(
    pages_stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """pages stream -> triples appended to ``output_dir`` (parquet).

    foreachBatch reuses the batch operators verbatim.  It is
    at-least-once: a micro-batch whose sink write landed but whose
    offsets were not committed runs again on restart under the same
    batch id.  The batch-id guard (``_append_once``) plus the
    deterministic transforms make the output exactly-once and
    restart-idempotent — the streaming analog of the StageStore
    resume contract.

    Returns the StreamingQuery; with ``available_now`` the query drains
    everything currently in the directory and stops (use
    ``query.awaitTermination()``).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _append_once(batch_df, output_dir, batch_id, lambda: document_triple_set(
            plane_triples(extract_plane(batch_df, include_text=False))
        ))

    return _drain(pages_stream, process, checkpoint_dir, available_now)


def incremental_neardup(
    pages_stream: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    n: int = 3,
    threshold: float = 0.5,
    available_now: bool = True,
):
    """Incremental MinHash-LSH near-dup detection inside foreachBatch
    against a persistent band-signature stage table (VERDICT r3 #8).

    Per micro-batch of pages (doc identity = xxhash64(url)):

    1. one ``document_lsh_table`` pass over the batch docs, the SAME
       Arrow pass and shingling as the batch ``minhash_lsh_pairs``,
       checkpointed once; the ``bands`` rows (``band_rows``) and the
       ``shingles`` rows are both projections of it;
    2. candidates = batch band rows joined against the band table
       (previous batches + this one) on (band_id, band_key) — each
       pair is discovered exactly once, in the batch where its LATER
       member arrives, so new waves only pay for their own band keys,
       never a full-history self-join;
    3. exact-Jaccard verify against the persistent shingle table
       (``verify_jaccard``), pairs appended to ``pairs``.

    State tables live under ``state_root`` (bands/, shingles/,
    pairs/), each row stamped with batch_id; every write goes through
    ``_append_once`` and the transforms are deterministic, so a
    replayed micro-batch is a no-op (the pairs join included) — the
    same exactly-once argument as incremental_triples, extended to
    stateful joins.  After all waves, the union of appended pairs
    equals the batch ``minhash_lsh_pairs`` over the full corpus
    (pinned by tests/test_streaming.py and tools/stream_soak.py).

    Scale notes: the band table grows O(docs x bands) with fixed-width
    rows; on an Iceberg deployment it is bucketed by band_key so the
    per-wave candidate join co-locates without a full shuffle of
    history.  Assumes each url is ingested in exactly one micro-batch
    (file-drop / log-stream semantics — same assumption as
    running_surface_state's doc counting).
    """
    from ..operators.dedup import band_rows, document_lsh_table, verify_jaccard

    # A crash mid-compaction can leave a table dir absent with its
    # .pre-compact sibling holding the state; running on the bare
    # directory would silently rebuild history from this batch alone
    # and miss every old-vs-new pair.  Roll out of the window first.
    recover_compaction(state_root)

    bands_dir = os.path.join(state_root, "bands")
    sh_dir = os.path.join(state_root, "shingles")
    pairs_dir = os.path.join(state_root, "pairs")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = clean_pages(batch_df).select(
            F.xxhash64("url").alias("doc_id"),
            F.col("clean_text").alias("text"),
        )
        table = document_lsh_table(docs, n=n).localCheckpoint(eager=True)
        new_bands = band_rows(table, "doc_id")
        _append_once(batch_df, bands_dir, batch_id, lambda: new_bands)
        _append_once(batch_df, sh_dir, batch_id, lambda: table.select(
            "doc_id", F.col("shingles").alias("sh")
        ))

        def pairs() -> DataFrame:
            # history INCLUDING this batch's just-written rows: new-new
            # pairs meet table-side, new-old pairs meet exactly here
            history = spark.read.parquet(bands_dir).where(
                F.col("batch_id") <= batch_id
            )
            cand = (
                new_bands.alias("x")
                .join(history.alias("y"), ["band_id", "band_key"])
                .where(F.col("x.doc_id") != F.col("y.doc_id"))
                .select(
                    F.least("x.doc_id", "y.doc_id").alias("a"),
                    F.greatest("x.doc_id", "y.doc_id").alias("b"),
                )
                .dropDuplicates(["a", "b"])
            )
            # every candidate involves >= 1 doc from THIS batch (x side
            # is new), so a pair is only ever generated in its later
            # member's batch — no cross-batch duplicates to filter
            all_sh = spark.read.parquet(sh_dir).where(
                F.col("batch_id") <= batch_id
            ).select("doc_id", F.col("sh").alias("shingles"))
            verified = verify_jaccard(cand, all_sh, "doc_id", threshold)
            return verified.select(
                "a", "b", F.round("jaccard", 6).alias("jaccard")
            )

        _append_once(batch_df, pairs_dir, batch_id, pairs)

    return _drain(pages_stream, process, checkpoint_dir, available_now)


# table -> compaction keys: bands cluster on the candidate join key
_STATE_TABLES = {
    "bands": ["band_key", "band_id"],
    "shingles": ["doc_id"],
    "pairs": ["a", "b"],
}


def recover_compaction(state_root: str) -> dict:
    """Roll the near-dup state tables out of any crash window left by
    ``compact_neardup_state``'s swap (``io.stages.recover_swap`` per
    table).  Idempotent; safe to call between drains, and called by
    ``incremental_neardup`` before it reads any state.  Returns
    {table: action} for the tables that needed any action."""
    actions: dict[str, str] = {}
    for name in _STATE_TABLES:
        action = recover_swap(os.path.join(state_root, name))
        if action:
            actions[name] = action
    return actions


def compact_neardup_state(
    spark: SparkSession, state_root: str, partitions: int | None = None
) -> dict:
    """Rewrite the near-dup state tables into few, join-key-clustered
    files — the Iceberg ``rewrite_data_files`` analog for this stage
    store.  Every drain appends one file set per micro-batch, so after
    thousands of waves the per-wave candidate join pays file-listing
    and tiny-file scan costs; compaction clusters ``bands`` on
    (band_key, band_id) (the join key), ``shingles`` on doc_id,
    ``pairs`` on (a, b).

    Each table goes through ``ParquetStageBackend.compact``, the
    StageStore's verified sibling-directory swap: row-count-verified
    rewrite, two renames, and ``recover_swap`` first, so a crash
    anywhere in the swap leaves the next drain a complete state, old
    or new.  Row-preserving: every row including ``batch_id``
    survives, so the replay guards and the ``batch_id <= N`` history
    filters behave identically after compaction (pinned by
    tests/test_streaming.py — a post-compaction wave still yields
    exact batch parity and an idle re-drain still appends nothing).
    Run it BETWEEN drains (no active query may hold the state open),
    the same maintenance window Iceberg compaction wants.  A table
    never compacts into more files than it has.

    Returns {table: (files_before, files_after)}.
    """
    recover_compaction(state_root)
    backend = ParquetStageBackend(spark, state_root)
    report = {}
    for name, keys in _STATE_TABLES.items():
        path = os.path.join(state_root, name)
        if not os.path.isdir(path):
            continue
        before = len(glob.glob(os.path.join(path, "*.parquet")))
        n_parts = min(
            partitions or spark.sparkContext.defaultParallelism,
            max(before, 1),
        )
        backend.compact(name, n_parts, keys)
        report[name] = (before, len(glob.glob(os.path.join(path, "*.parquet"))))
    return report


def running_surface_state(
    pages_stream: DataFrame,
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per mention
    surface, a running (n_mentions, n_docs_seen, first_us, last_us)
    maintained across micro-batches — the incremental analog of the
    batch graph plane's surface_nodes frequency table, and the state a
    continuously-updating entity canonicalizer reads.

    Mentions come from the batch text plane: ``extract_plane`` without
    sentence text (one Arrow crossing per micro-batch) and a JVM
    explode of its ``m_surface`` array, so the streamed surfaces are
    the batch pipeline's by construction.

    The reference has no streaming analog (its datasets are static);
    this is the Spark-native design: per-key state lives in the state
    store (checkpointed, restart-safe), each micro-batch's mention rows
    fold into it, and the operator emits the UPDATED state row per key
    per batch (outputMode update).  State size is bounded by the
    surface vocabulary — the same gazetteer-bounded vs open-vocabulary
    trade documented for the batch canonicalizer.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    mentions = extract_plane(pages_stream, include_text=False).select(
        F.explode("m_surface").alias("surface"),
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
    )

    out_schema = (
        "surface string, n_mentions long, n_docs long, "
        "first_us long, last_us long"
    )
    state_schema = "n long, n_docs long, first_us long, last_us long"

    def fold(key, pdfs, state: GroupState):
        n_new, docs_new, lo, hi = 0, set(), None, None
        for pdf in pdfs:
            n_new += len(pdf)
            if len(pdf):
                docs_new.update(pdf["url"])
                bl, bh = int(pdf["warc_us"].min()), int(pdf["warc_us"].max())
                lo = bl if lo is None else min(lo, bl)
                hi = bh if hi is None else max(hi, bh)
        if state.exists:
            n0, d0, f0, l0 = state.get
        else:
            n0, d0, f0, l0 = 0, 0, None, None
        n = n0 + n_new
        # exact for a file-drop source: each url is ingested in exactly
        # one micro-batch, so per-batch distinct urls never double-count
        n_docs = d0 + len(docs_new)
        first = f0 if lo is None or (f0 is not None and f0 <= lo) else lo
        last = l0 if hi is None or (l0 is not None and l0 >= hi) else hi
        state.update((n, n_docs, first, last))
        yield pd.DataFrame(
            {
                "surface": [key[0]],
                "n_mentions": [n],
                "n_docs": [n_docs],
                "first_us": [first],
                "last_us": [last],
            }
        )

    return mentions.groupBy("surface").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def triple_counts_by_window(
    pages_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed page/lang counts with late-data handling.

    ``warc_ts`` is the event time (SURVEY §1.3); the watermark bounds
    aggregation state — pages later than ``watermark`` behind the max
    observed warc_ts are dropped, everything else updates its window.
    """
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
        )
    )
