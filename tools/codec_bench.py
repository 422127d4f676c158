#!/usr/bin/env python
"""Distributed multimodal decode throughput.

Synthesizes N real encoded assets EXECUTOR-side (png/bmp/jpeg/gif/
wav/mjpeg-avi/mp4 cycling, make_decodable_assets_distributed), then
times the two decode surfaces:

- decode_stats:  per-asset full decode -> integer stats
- frame_stats:   per-frame video decode -> stats + dedup md5

Prints one JSON line; --update-baseline rewrites the BASELINE.md
section.  The interesting number at 100 TB is bytes/sec/core of pure
Python+numpy codec work — it bounds how many executors a full-corpus
decode pass needs, and whether the Arrow batch plumbing (not the
codecs) ever becomes the bottleneck (it does not: scan stays narrow,
payloads never shuffle).

    PYTHONPATH=. python tools/codec_bench.py --assets 20000 [--update-baseline]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--assets", type=int, default=20000)
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    p.add_argument("--update-baseline", action="store_true")
    args = p.parse_args()

    from pyspark.sql import functions as F

    from rex_spark.operators.multimodal import (
        decode_stats,
        frame_stats,
        make_decodable_assets_distributed,
    )
    from rex_spark.session import get_session

    spark = get_session(master=f"local[{args.cpus}]",
                        app_name="rex_spark_codec_bench")
    assets = make_decodable_assets_distributed(spark, args.assets).cache()
    n_bytes = assets.select(F.sum(F.length("payload"))).first()[0]
    assets.count()  # materialize encoded payloads outside the timed region

    def timed(df_fn):
        times, rows = [], 0
        for _ in range(args.runs):
            spark.catalog.clearCache()
            assets.cache().count()
            t0 = time.perf_counter()
            out = df_fn()
            rows = out.count()
            times.append(time.perf_counter() - t0)
        return statistics.median(times), rows, [round(t, 3) for t in times]

    # warm (JVM + python workers + C2)
    decode_stats(assets.limit(2000)).count()
    stats_sec, stats_rows, stats_all = timed(lambda: decode_stats(assets))
    frames_sec, frame_rows, frames_all = timed(lambda: frame_stats(assets))
    ok_frac = (
        decode_stats(assets).filter(F.col("status") == "ok").count()
        / args.assets
    )
    out = {
        "metric": "codec_decode_throughput",
        "assets": args.assets,
        "payload_mb": round(n_bytes / 1e6, 1),
        "decode_stats_sec": round(stats_sec, 3),
        "decode_stats_all": stats_all,
        "assets_per_sec": round(args.assets / stats_sec, 1),
        "mb_per_sec": round(n_bytes / 1e6 / stats_sec, 1),
        "frame_stats_sec": round(frames_sec, 3),
        "frame_stats_all": frames_all,
        "frame_rows": frame_rows,
        "ok_frac": round(ok_frac, 4),
        "cpus": args.cpus,
    }
    spark.stop()
    if args.update_baseline:
        _append_baseline(out)
    print(json.dumps(out))


def _append_baseline(out: dict) -> None:
    from tools.section_util import replace_section

    lines = [
        "## Multimodal decode throughput (tools/codec_bench.py)",
        "",
        f"{out['assets']} real encoded assets ({out['payload_mb']} MB of",
        "png/bmp/jpeg/gif/wav/mjpeg-avi/mp4 payloads, synthesized",
        "executor-side), decoded with the pure-stdlib codecs inside",
        f"one crossing.fan_out at local[{out['cpus']}]; median of",
        f"{len(out['decode_stats_all'])} timed runs after a warm run:",
        "",
        "| surface | wall (s) | all runs (s) | rate |",
        "|---|---|---|---|",
        f"| decode_stats (per-asset full decode) | {out['decode_stats_sec']} |"
        f" {out['decode_stats_all']} | {out['assets_per_sec']} assets/s,"
        f" {out['mb_per_sec']} encoded MB/s |",
        f"| frame_stats (per-frame video decode + dedup md5) |"
        f" {out['frame_stats_sec']} | {out['frame_stats_all']} |"
        f" {out['frame_rows']} frame rows |",
        "",
        f"{out['ok_frac']:.0%} of assets decode `ok` (the rest is the",
        "deliberate unsupported-mp4 slot).  Payloads stay inside the",
        "Arrow batch — only stat columns leave the scan stage, so the",
        "pass is embarrassingly parallel and executor-count bound at",
        "any corpus size.",
        "",
    ]
    replace_section(
        os.path.join(REPO, "BASELINE.md"),
        "## Multimodal decode throughput (tools/codec_bench.py)",
        "\n".join(lines) + "\n",
    )


if __name__ == "__main__":
    main()
