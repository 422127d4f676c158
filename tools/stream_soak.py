"""Streaming-ingest soak: wave drains, exactly-once, batch parity.

Drops the deterministic corpus into the input directory in WAVES of
parquet files and drains each wave with the incremental pipeline
(jobs/stream_job.py's availableNow path, same checkpoint across
drains).  Evidence produced:

1. per-wave drain wall time + cumulative triple rows (throughput);
2. EXACTLY-ONCE: an extra drain with no new files appends nothing, and
   restarting the query between waves never reprocesses old files
   (every drain here IS a fresh StreamingQuery on the checkpoint);
3. BATCH PARITY: after all waves, the appended distinct triple set
   equals the batch pipeline's document_triple_set over the identical
   full corpus — streaming and batch are the same transforms under two
   drivers, proven, not asserted.
4. DEDUP STAGE: each wave also drains through incremental_neardup
   (MinHash banding inside foreachBatch against the persistent
   band-signature table); after all waves the appended pair set must
   equal the batch minhash_lsh_pairs over the full corpus, and an
   idle re-drain appends nothing.

Usage:
  PYTHONPATH=. python tools/stream_soak.py [pages_per_wave] [n_waves] [--update-baseline]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

BASE = "/tmp/rex_stream_soak"


def drain(spark, input_dir: str, output_dir: str, ckpt: str) -> float:
    from rex_spark.streaming import incremental_triples, stream_pages

    t0 = time.time()
    q = incremental_triples(
        stream_pages(spark, input_dir), output_dir, ckpt, available_now=True
    )
    q.awaitTermination()
    return time.time() - t0


def drain_dedup(spark, input_dir: str, state_root: str, ckpt: str) -> float:
    from rex_spark.streaming import incremental_neardup, stream_pages

    t0 = time.time()
    q = incremental_neardup(
        stream_pages(spark, input_dir), state_root, ckpt, available_now=True
    )
    q.awaitTermination()
    return time.time() - t0


def out_rows(spark, output_dir: str) -> int:
    try:
        return spark.read.parquet(output_dir).count()
    except Exception:
        return 0


def main() -> None:
    from rex_spark.pipeline import build_pages_df_distributed
    from rex_spark.session import get_session

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    per_wave = int(args[0]) if args else 20_000
    n_waves = int(args[1]) if len(args) > 1 else 3

    shutil.rmtree(BASE, ignore_errors=True)
    input_dir = os.path.join(BASE, "pages_incoming")
    output_dir = os.path.join(BASE, "triples")
    ckpt = os.path.join(BASE, "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    nd_state = os.path.join(BASE, "nd_state")
    nd_ckpt = os.path.join(BASE, "nd_ckpt")

    spark = get_session()
    waves = []
    total = 0
    for w in range(n_waves):
        build_pages_df_distributed(
            spark, per_wave, seed=42, start=w * per_wave
        ).write.mode("append").parquet(input_dir)
        sec = drain(spark, input_dir, output_dir, ckpt)
        nd_sec = drain_dedup(spark, input_dir, nd_state, nd_ckpt)
        rows = out_rows(spark, output_dir)
        waves.append(
            {
                "wave": w,
                "drain_sec": round(sec, 1),
                "dedup_drain_sec": round(nd_sec, 1),
                "cumulative_rows": rows,
                "new_rows": rows - total,
                "cumulative_pairs": out_rows(
                    spark, os.path.join(nd_state, "pairs")
                ),
                "pages_per_sec": round(per_wave / sec, 1),
            }
        )
        total = rows
        print(waves[-1])
        if w == n_waves // 2 - 1 or (n_waves == 1 and w == 0):
            # compact the dedup state MID-SOAK: later waves join the
            # compacted history, proving the maintenance op is
            # invisible to exactly-once and to batch parity
            from rex_spark.streaming import compact_neardup_state

            t0 = time.time()
            compact_report = compact_neardup_state(spark, nd_state)
            compact_sec = round(time.time() - t0, 1)
            print({"compacted_after_wave": w, "sec": compact_sec,
                   "files": compact_report})

    # exactly-once: a drain with nothing new appends nothing
    idle_sec = drain(spark, input_dir, output_dir, ckpt)
    assert out_rows(spark, output_dir) == total, "idle drain appended rows!"
    n_pairs = out_rows(spark, os.path.join(nd_state, "pairs"))
    idle_nd_sec = drain_dedup(spark, input_dir, nd_state, nd_ckpt)
    assert out_rows(spark, os.path.join(nd_state, "pairs")) == n_pairs, (
        "idle dedup drain appended pairs!"
    )
    print({"idle_drain_sec": round(idle_sec, 1),
           "idle_dedup_drain_sec": round(idle_nd_sec, 1),
           "rows_unchanged": True})

    # batch parity on the identical full corpus
    from rex_spark.operators.extraction import (
        document_triple_set,
        extract_plane,
        plane_triples,
    )

    all_pages = build_pages_df_distributed(spark, per_wave * n_waves, seed=42)
    batch = document_triple_set(
        plane_triples(extract_plane(all_pages, include_text=False))
    )
    key = ["url", "subj", "pred", "obj"]
    streamed = spark.read.parquet(output_dir).select(*key).distinct()
    missing = batch.exceptAll(streamed).count()
    extra = streamed.exceptAll(batch).count()
    n_batch = batch.count()
    parity = missing == 0 and extra == 0 and total == n_batch
    print(
        {
            "batch_triples": n_batch,
            "streamed_rows": total,
            "missing": missing,
            "extra": extra,
            "parity": parity,
        }
    )
    assert parity, "streaming output diverged from the batch pipeline"

    # dedup batch parity: the incrementally accumulated pair set equals
    # batch minhash_lsh_pairs over the identical full corpus
    from pyspark.sql import functions as F

    from rex_spark.operators.dedup import minhash_lsh_pairs
    from rex_spark.operators.textplane import clean_pages

    docs_all = clean_pages(all_pages).select(
        F.xxhash64("url").alias("doc_id"), F.col("clean_text").alias("text")
    )
    batch_pairs = minhash_lsh_pairs(docs_all, threshold=0.5)
    streamed_pairs = spark.read.parquet(
        os.path.join(nd_state, "pairs")
    ).select("a", "b", "jaccard")
    nd_missing = batch_pairs.exceptAll(streamed_pairs).count()
    nd_extra = streamed_pairs.exceptAll(batch_pairs).count()
    n_batch_pairs = batch_pairs.count()
    nd_parity = nd_missing == 0 and nd_extra == 0 and n_pairs == n_batch_pairs
    print(
        {
            "batch_pairs": n_batch_pairs,
            "streamed_pairs": n_pairs,
            "nd_missing": nd_missing,
            "nd_extra": nd_extra,
            "dedup_parity": nd_parity,
        }
    )
    assert nd_parity, "incremental dedup diverged from batch minhash_lsh_pairs"

    if "--update-baseline" in sys.argv:
        from tools.section_util import replace_section

        wave_rows = "\n".join(
            f"| {x['wave']} | {x['drain_sec']} | {x['dedup_drain_sec']} "
            f"| {x['new_rows']:,} | {x['cumulative_rows']:,} "
            f"| {x['cumulative_pairs']:,} | {x['pages_per_sec']:,} |"
            for x in waves
        )
        section = (
            "## Streaming ingest soak (tools/stream_soak.py)\n\n"
            f"{n_waves} waves x {per_wave:,} pages dropped as parquet files "
            "and drained by the incremental pipeline (fresh availableNow "
            "StreamingQuery per drain, shared checkpoint), plus the "
            "incremental MinHash dedup stage (banding inside foreachBatch "
            "against the persistent band-signature table — each wave joins "
            "only its own band keys):\n\n"
            "| wave | drain (s) | dedup drain (s) | new triple rows "
            "| cumulative | near-dup pairs | pages/s |\n"
            "|---|---|---|---|---|---|---|\n"
            f"{wave_rows}\n\n"
            f"- idle re-drain ({idle_sec:.1f} s triples, {idle_nd_sec:.1f} s "
            "dedup): zero rows/pairs appended — checkpoint + batch_id "
            "guards never reprocess a consumed file, across query restarts "
            "(each drain is a new query).\n"
            f"- batch parity: streamed distinct triple set == batch "
            f"document_triple_set over the same {per_wave * n_waves:,} "
            f"pages ({n_batch:,} triples; exceptAll both ways = 0).  One "
            "set of transforms, two drivers.\n"
            f"- dedup parity: incrementally accumulated pair set == batch "
            f"minhash_lsh_pairs over the full corpus ({n_batch_pairs:,} "
            "pairs; exceptAll both ways = 0), each pair discovered exactly "
            "once, in the wave its later member arrived.\n"
            f"- state compacted MID-SOAK after wave {n_waves // 2 - 1} "
            f"(compact_neardup_state, {compact_sec} s, band files "
            f"{compact_report['bands'][0]} -> {compact_report['bands'][1]}): "
            "later waves joined the compacted history and every assertion "
            "above still held — the Iceberg rewrite_data_files analog is "
            "invisible to exactly-once and to parity.\n"
        )
        replace_section("BASELINE.md", "## Streaming ingest soak", section)
        print("BASELINE.md updated")
    spark.stop()


if __name__ == "__main__":
    main()
