"""Wall-clock comparison of the three M-slot extraction mechanisms.

Same synthetic corpus, same downstream contract (distinct document
triple set), three mechanisms: the fused pair scorer (one mapInArrow
plane), the CasRel two-stage pointer decode, and the USM unified
pointer-algebra decode (each the plane plus one ``decode_sentences``
mapInArrow over its sentence rows).
Median of SPARK_GRAFT_BENCH_RUNS (default 3) timed runs after a warm
run, caches cleared between runs.

Usage:
  PYTHONPATH=. python tools/extractor_bench.py [n_pages] [--update-baseline]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

EXTRACTORS = ("fused", "casrel", "usm")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def run_one(spark, pages, extractor: str) -> tuple[float, int]:
    from rex_spark.pipeline import run_pipeline

    spark.catalog.clearCache()
    t0 = time.time()
    r = run_pipeline(spark, pages, store=None, extractor=extractor)
    n = r["triple_set"].count()
    return time.time() - t0, n


def main() -> None:
    from rex_spark.pipeline import build_pages_df_distributed
    from rex_spark.session import get_session

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_pages = int(args[0]) if args else 50_000
    spark = get_session()
    pages = build_pages_df_distributed(spark, n_pages, seed=42)

    results = {}
    for ext in EXTRACTORS:
        run_one(spark, pages, ext)  # warm (JIT + python worker spin-up)
        times, counts = [], set()
        for _ in range(RUNS):
            sec, n = run_one(spark, pages, ext)
            times.append(sec)
            counts.add(n)
        assert len(counts) == 1, f"{ext}: nondeterministic counts {counts}"
        med = statistics.median(times)
        results[ext] = {
            "sec": round(med, 2),
            "all_runs_sec": [round(t, 2) for t in times],
            "triples": counts.pop(),
            "pages_per_sec": round(n_pages / med, 1),
        }
        print(ext, results[ext])

    # cross-mechanism SET comparison (untimed): counts being equal does
    # not prove the sets are — measure the actual symmetric difference
    # vs the fused set (may legitimately be nonzero on corpora with
    # nested mentions; the agreement contract is P/R >= 0.95, and the
    # report states whichever was measured)
    from rex_spark.pipeline import run_pipeline

    spark.catalog.clearCache()
    fused_set = run_pipeline(spark, pages, store=None)["triple_set"].cache()
    fused_set.count()
    set_diffs = {}
    for ext in EXTRACTORS[1:]:
        spark.catalog.clearCache()
        other = run_pipeline(spark, pages, store=None, extractor=ext)[
            "triple_set"
        ]
        set_diffs[ext] = (
            other.exceptAll(fused_set).count()
            + fused_set.exceptAll(other).count()
        )
        print(ext, "symmetric_diff_vs_fused", set_diffs[ext])
    identical = all(v == 0 for v in set_diffs.values())

    if "--update-baseline" in sys.argv:
        from tools.section_util import replace_section

        rows = "\n".join(
            f"| {ext} | {r['sec']} | {r['all_runs_sec']} | {r['triples']} "
            f"| {r['pages_per_sec']} |"
            for ext, r in results.items()
        )
        section = (
            "## Extractor mechanisms (tools/extractor_bench.py)\n\n"
            f"Same {n_pages:,}-page corpus through each M-slot mechanism "
            f"(median of {RUNS} after a warm run, caches cleared):\n\n"
            "| extractor | wall (s) | all runs (s) | distinct triples | pages/s |\n"
            "|---|---|---|---|---|\n"
            f"{rows}\n\n"
            "The pointer paths (casrel/usm) run the fused plane (with "
            "sentence text) plus one decode_sentences crossing over its "
            "sentence rows; all three are shuffle-free to triple "
            "emission.  "
            + (
                "Set agreement this run: the distinct triple sets are "
                "IDENTICAL (measured symmetric difference vs fused = 0 "
                "for casrel and usm).\n"
                if identical
                else "Set agreement this run: symmetric difference vs "
                f"fused = {set_diffs} (the agreement contract is "
                "P/R >= 0.95, not exact equality).\n"
            )
        )
        replace_section(
            "BASELINE.md", "## Extractor mechanisms", section
        )
        print("BASELINE.md updated")
    spark.stop()


if __name__ == "__main__":
    main()
