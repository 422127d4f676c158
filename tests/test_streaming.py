"""Structured Streaming incremental ingest: the streamed triple set
must equal the in-process reference extractor's on the same pages,
across multiple micro-batches, and restart must not duplicate output."""

import glob
import os
from collections import Counter

import pytest
from conftest import python_node_names

from rex_spark.kernels.extractor import (
    document_triples,
    extract_document,
    extract_mentions,
)
from rex_spark.kernels.synth import make_pages
from rex_spark.kernels.textnorm import html_to_text
from rex_spark.operators.textplane import clean_pages
from rex_spark.pipeline import build_pages_df
from rex_spark.streaming import (
    incremental_triples,
    running_surface_state,
    stream_pages,
    triple_counts_by_window,
)

N_PAGES = 80


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pages_stream")
    # two separate file drops -> at least two micro-batches at
    # maxFilesPerTrigger=1
    build_pages_df(spark, N_PAGES, seed=42).where(
        "pmod(xxhash64(url), 2) = 0"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "drop1"))
    build_pages_df(spark, N_PAGES, seed=42).where(
        "pmod(xxhash64(url), 2) != 0"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "drop2"))
    flat = tmp_path_factory.mktemp("pages_flat")
    for i, f in enumerate(
        sorted(glob.glob(str(d / "drop*" / "*.parquet")))
    ):
        os.link(f, str(flat / f"part-{i}.parquet"))
    return str(flat)


def _drain(q):
    q.awaitTermination()


def test_stream_matches_batch(spark, pages_dir, tmp_path):
    out = str(tmp_path / "triples_out")
    ckpt = str(tmp_path / "ckpt")
    q = incremental_triples(
        stream_pages(spark, pages_dir, max_files_per_trigger=1), out, ckpt
    )
    _drain(q)

    streamed = spark.read.parquet(out)
    assert streamed.select("batch_id").distinct().count() >= 2  # micro-batched

    want = {
        (p["url"], *t)
        for p in make_pages(N_PAGES, seed=42)[0]
        for t in document_triples(html_to_text(p["html"]), p["lang"])
    }
    cols = ["url", "subj", "pred", "obj"]
    s = {tuple(r) for r in streamed.select(*cols).collect()}
    assert want and s == want

    # restart with the same checkpoint: nothing new to process, no dupes
    q2 = incremental_triples(stream_pages(spark, pages_dir), out, ckpt)
    _drain(q2)
    assert spark.read.parquet(out).count() == len(
        spark.read.parquet(out).collect()
    ) == streamed.count()


def test_incremental_neardup_matches_batch(spark, pages_dir, tmp_path):
    """Streaming MinHash dedup against the persistent band table finds
    EXACTLY the batch minhash_lsh_pairs set over the full corpus, each
    pair discovered once (in its later member's batch), and an idle
    re-drain appends nothing."""
    from pyspark.sql import functions as F

    from rex_spark.operators.dedup import minhash_lsh_pairs
    from rex_spark.streaming import incremental_neardup

    state = str(tmp_path / "nd_state")
    ckpt = str(tmp_path / "nd_ckpt")
    q = incremental_neardup(
        stream_pages(spark, pages_dir, max_files_per_trigger=1), state, ckpt
    )
    _drain(q)

    pairs = spark.read.parquet(os.path.join(state, "pairs"))
    assert pairs.select("batch_id").distinct().count() >= 1
    got = {(r["a"], r["b"], r["jaccard"]) for r in pairs.collect()}
    assert pairs.count() == len(got)  # each pair appended exactly once

    docs = clean_pages(build_pages_df(spark, N_PAGES, seed=42)).select(
        F.xxhash64("url").alias("doc_id"), F.col("clean_text").alias("text")
    )
    want = {
        (r["a"], r["b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert got == want and len(want) > 0  # nonvacuous parity

    # idle re-drain: checkpoint + batch_id guards leave state unchanged
    n_pairs = pairs.count()
    n_bands = spark.read.parquet(os.path.join(state, "bands")).count()
    q2 = incremental_neardup(stream_pages(spark, pages_dir), state, ckpt)
    _drain(q2)
    assert spark.read.parquet(os.path.join(state, "pairs")).count() == n_pairs
    assert spark.read.parquet(os.path.join(state, "bands")).count() == n_bands


@pytest.mark.parametrize(
    "sink, tables",
    [("triples", ["triples"]), ("neardup", ["bands", "shingles", "pairs"])],
)
def test_replayed_micro_batch_appends_nothing(
    spark, pages_dir, tmp_path, sink, tables
):
    """foreachBatch is at-least-once: a crash after the sink write and
    before the offset commit replays the batch under the same id on
    restart.  Forgetting the last commit replays it; the batch-id
    guard must keep every output table's row count."""
    from rex_spark.streaming import incremental_neardup

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        src = stream_pages(spark, pages_dir, max_files_per_trigger=1)
        if sink == "triples":
            _drain(incremental_triples(src, os.path.join(out, "triples"), ckpt))
        else:
            _drain(incremental_neardup(src, out, ckpt))
        return [spark.read.parquet(os.path.join(out, t)).count() for t in tables]

    counts = drain()
    assert counts[0] > 0
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))

    assert drain() == counts
    assert os.path.exists(os.path.join(commits, str(last)))  # it replayed


def test_compact_neardup_state_preserves_semantics(spark, tmp_path):
    """Compaction between drains must be invisible to the dedup
    semantics: a post-compaction wave still discovers exactly the
    batch pair set over the full corpus, replay guards still hold
    (idle re-drain appends nothing), and the band table lands in
    fewer, band_key-clustered files."""
    import glob

    from pyspark.sql import functions as F

    from rex_spark.operators.dedup import minhash_lsh_pairs
    from rex_spark.streaming import compact_neardup_state, incremental_neardup

    pages = build_pages_df(spark, N_PAGES, seed=42)
    flat = tmp_path / "pages"
    flat.mkdir()
    for i in range(3):  # three waves, one parquet file each
        pages.where(f"pmod(xxhash64(url), 3) = {i}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"drop{i}"))

    def link_wave(i):
        for j, f in enumerate(
            sorted(glob.glob(str(tmp_path / f"drop{i}" / "*.parquet")))
        ):
            os.link(f, str(flat / f"wave{i}-{j}.parquet"))

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    link_wave(0)
    link_wave(1)
    _drain(incremental_neardup(
        stream_pages(spark, str(flat), max_files_per_trigger=1), state, ckpt
    ))

    report = compact_neardup_state(spark, state, partitions=1)
    assert set(report) == {"bands", "shingles", "pairs"}
    files_before, files_after = report["bands"]
    assert files_after <= files_before and files_after == 1

    link_wave(2)  # a wave AFTER compaction joins the compacted history
    _drain(incremental_neardup(stream_pages(spark, str(flat)), state, ckpt))

    docs = clean_pages(pages).select(
        F.xxhash64("url").alias("doc_id"), F.col("clean_text").alias("text")
    )
    want = {
        (r["a"], r["b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    got_df = spark.read.parquet(os.path.join(state, "pairs"))
    got = {(r["a"], r["b"], r["jaccard"]) for r in got_df.collect()}
    assert got == want and len(want) > 0
    assert got_df.count() == len(got)  # each pair exactly once

    n_pairs = got_df.count()
    _drain(incremental_neardup(stream_pages(spark, str(flat)), state, ckpt))
    assert spark.read.parquet(os.path.join(state, "pairs")).count() == n_pairs


def test_compaction_crash_windows(spark, tmp_path):
    """A crash inside compact_neardup_state's two-rename swap must be
    invisible to dedup semantics: the next drain sees exactly the OLD
    state (crash between the renames -> pre-compact restored) or
    exactly the NEW one (crash after promotion -> leftover dropped),
    never a mix — and a re-run of compaction recovers cleanly."""
    import shutil

    from pyspark.sql import functions as F

    from rex_spark.operators.dedup import minhash_lsh_pairs
    from rex_spark.streaming import compact_neardup_state, incremental_neardup
    from rex_spark.streaming.incremental import recover_compaction

    pages = build_pages_df(spark, N_PAGES, seed=42)
    flat = tmp_path / "pages"
    flat.mkdir()
    for i in range(3):
        pages.where(f"pmod(xxhash64(url), 3) = {i}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"drop{i}"))

    def link_wave(i):
        for j, f in enumerate(
            sorted(glob.glob(str(tmp_path / f"drop{i}" / "*.parquet")))
        ):
            os.link(f, str(flat / f"wave{i}-{j}.parquet"))

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    link_wave(0)
    link_wave(1)
    _drain(incremental_neardup(stream_pages(spark, str(flat)), state, ckpt))

    # --- window A: crash BETWEEN rename(path, old) and rename(tmp, path)
    # (replaying exactly the operations compact_neardup_state performs
    # up to the crash point: verified rewrite in .compacting, table
    # renamed away, promotion rename never happens)
    bands = os.path.join(state, "bands")
    tmp_dir = bands + ".compacting"
    spark.read.parquet(bands).repartition(1, "band_key").write.mode(
        "overwrite"
    ).parquet(tmp_dir)
    os.rename(bands, bands + ".pre-compact")
    assert not os.path.isdir(bands)  # the window ADVICE flags: table gone

    # next drain (wave 2) must restore the pre-compact history first —
    # otherwise _has_batch recreates bands from wave 2 alone and every
    # old-vs-new pair is silently missed
    link_wave(2)
    _drain(incremental_neardup(stream_pages(spark, str(flat)), state, ckpt))
    docs = clean_pages(pages).select(
        F.xxhash64("url").alias("doc_id"), F.col("clean_text").alias("text")
    )
    want = {
        (r["a"], r["b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    got_df = spark.read.parquet(os.path.join(state, "pairs"))
    assert {(r["a"], r["b"], r["jaccard"]) for r in got_df.collect()} == want
    assert len(want) > 0 and got_df.count() == len(want)
    assert not os.path.isdir(bands + ".pre-compact")
    assert not os.path.isdir(tmp_dir)

    # re-running compaction after the crash recovers: full rewrite, green
    report = compact_neardup_state(spark, state, partitions=1)
    assert report["bands"][1] == 1

    # --- window B: crash AFTER promotion, before rmtree(old) — the new
    # table is live, the stale .pre-compact leftover must be dropped,
    # and an idle re-drain appends nothing
    n_bands = spark.read.parquet(bands).count()
    shutil.copytree(bands, bands + ".pre-compact")
    actions = recover_compaction(state)
    assert actions == {"bands": "dropped-pre-compact"}
    assert not os.path.isdir(bands + ".pre-compact")
    n_pairs = spark.read.parquet(os.path.join(state, "pairs")).count()
    _drain(incremental_neardup(stream_pages(spark, str(flat)), state, ckpt))
    assert spark.read.parquet(bands).count() == n_bands
    assert spark.read.parquet(os.path.join(state, "pairs")).count() == n_pairs


def test_running_surface_state(spark, pages_dir, tmp_path):
    """The applyInPandasWithState fold must converge to the batch
    surface frequency table across micro-batches (outputMode update
    emits one row per touched key per batch; the last row per key is
    the final state)."""
    q = (
        running_surface_state(
            stream_pages(spark, pages_dir, max_files_per_trigger=1)
        )
        .writeStream.format("memory")
        .queryName("surface_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    # update mode appends each batch's state row; the max n_mentions per
    # surface is the final fold (counts only grow)
    got = {
        r["surface"]: (r["n_mentions"], r["n_docs"])
        for r in spark.sql(
            """SELECT surface, max(n_mentions) AS n_mentions,
                      max(n_docs) AS n_docs
               FROM surface_state GROUP BY surface"""
        ).collect()
    }
    assert got, "stateful op emitted nothing"

    n_mentions, urls = Counter(), {}
    for p in make_pages(N_PAGES, seed=42)[0]:
        for _sid, _sent, toks, _triples in extract_document(
            html_to_text(p["html"]), p["lang"]
        ):
            for surface, _etype, _start, _end in extract_mentions(toks):
                n_mentions[surface] += 1
                urls.setdefault(surface, set()).add(p["url"])
    want = {s: (n, len(urls[s])) for s, n in n_mentions.items()}
    assert got == want


def test_running_surface_state_plan_is_one_arrow_crossing(
    spark, pages_dir, tmp_path
):
    """The surface state reads the batch text plane: each micro-batch
    runs exactly one Python crossing (extract_plane's MapInArrow) before
    the stateful fold, and no mapInPandas stages."""
    q = (
        running_surface_state(stream_pages(spark, pages_dir))
        .writeStream.format("memory")
        .queryName("surface_state_plan")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_plan"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    plan = q._jsq.streamingQuery().lastExecution().executedPlan()
    assert python_node_names(plan) == [
        "FlatMapGroupsInPandasWithState", "MapInArrow"
    ], plan.toString()


def test_windowed_counts(spark, pages_dir, tmp_path):
    counts = triple_counts_by_window(
        stream_pages(spark, pages_dir), window="1 hour", watermark="2 hours"
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM win_counts").collect()
    assert sum(r["n_pages"] for r in rows) == N_PAGES
    assert all(r["window_end"] > r["window_start"] for r in rows)
