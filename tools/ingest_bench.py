#!/usr/bin/env python
"""Raw-ingest throughput: WARC parsing and PDF text extraction.

Synthesizes a Common-Crawl-layout dump (N files of member-per-record
*.warc.gz, written executor-side) and a PDF corpus, then times the two
ingest surfaces at local[CPUS]:

- read_warc: dump -> pages rows (binaryFile file-parallelism)
- extract_pdf_texts: payloads -> per-doc text rows

Prints one JSON line; --update-baseline rewrites the BASELINE.md
section.  The 100 TB question these numbers answer: how many
executor-hours does a full-crawl ingest pass cost, and is the repo's
pure-Python parsing fast enough that the scan (not the parser) stays
the bottleneck.

    PYTHONPATH=. python tools/ingest_bench.py --files 32 --per-file 2000
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_dump(spark, out_dir: str, files: int, per_file: int, seed: int) -> int:
    """Write the WARC dump with one executor task per file (each file's
    pages are a contiguous id range — make_page determinism)."""
    import pandas as pd

    from rex_spark.io.warc import encode_warc_gz
    from rex_spark.kernels.synth import make_page

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    def write_files(batches):
        for pdf in batches:
            for k in pdf["id"]:
                k = int(k)
                recs = []
                for i in range(k * per_file, (k + 1) * per_file):
                    page, _ = make_page(i, seed)
                    recs.append((page["url"], page["warc_ts"], page["html"]))
                with open(os.path.join(out_dir, f"part-{k:04d}.warc.gz"), "wb") as f:
                    f.write(encode_warc_gz(recs))
            yield pd.DataFrame({"n": [len(pdf)]})

    spark.range(0, files, numPartitions=files).mapInPandas(
        write_files, schema="n int"
    ).count()
    return sum(
        os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)
    )


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--files", type=int, default=32)
    p.add_argument("--per-file", type=int, default=2000)
    p.add_argument("--pdf-docs", type=int, default=30000)
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    p.add_argument("--update-baseline", action="store_true")
    args = p.parse_args()

    from pyspark.sql import functions as F

    from rex_spark.io.warc import read_warc
    from rex_spark.operators.pdftext import extract_pdf_texts, make_pdf_corpus
    from rex_spark.session import get_session

    spark = get_session(master=f"local[{args.cpus}]",
                        app_name="rex_spark_ingest_bench")
    # a fresh directory per run: two runs side by side never share input
    dump = tempfile.mkdtemp(prefix="rex_spark_ingest_warc_")
    atexit.register(shutil.rmtree, dump, ignore_errors=True)
    dump_bytes = build_dump(spark, dump, args.files, args.per_file, 42)
    n_pages = args.files * args.per_file

    def timed(fn):
        times, rows = [], 0
        for _ in range(args.runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows = fn()
            times.append(time.perf_counter() - t0)
        return statistics.median(times), rows, [round(t, 3) for t in times]

    # warm both python-worker pools + codegen
    read_warc(spark, dump).count()
    warc_sec, warc_rows, warc_all = timed(
        lambda: read_warc(spark, dump).select(
            F.sum(F.length("html"))).count()
    )
    assert warc_rows == 1
    warc_rows = read_warc(spark, dump).count()

    pdfs = make_pdf_corpus(spark, args.pdf_docs).cache()
    pdf_bytes = pdfs.select(F.sum(F.length("payload"))).first()[0]
    pdfs.count()
    extract_pdf_texts(pdfs.limit(2000)).count()
    pdf_sec, pdf_rows, pdf_all = timed(lambda: extract_pdf_texts(pdfs).count())

    out = {
        "metric": "ingest_throughput",
        "warc_files": args.files,
        "warc_pages": n_pages,
        "warc_dump_mb": round(dump_bytes / 1e6, 1),
        "warc_sec": round(warc_sec, 3),
        "warc_all": warc_all,
        "warc_pages_per_sec": round(n_pages / warc_sec, 1),
        "warc_mb_per_sec": round(dump_bytes / 1e6 / warc_sec, 1),
        "pdf_docs": args.pdf_docs,
        "pdf_mb": round(pdf_bytes / 1e6, 1),
        "pdf_sec": round(pdf_sec, 3),
        "pdf_all": pdf_all,
        "pdf_docs_per_sec": round(args.pdf_docs / pdf_sec, 1),
        "cpus": args.cpus,
        "warc_rows_check": warc_rows,
        "pdf_rows_check": pdf_rows,
    }
    spark.stop()
    if args.update_baseline:
        _append_baseline(out)
    print(json.dumps(out))


def _append_baseline(out: dict) -> None:
    from tools.section_util import replace_section

    lines = [
        "## Raw-ingest throughput (tools/ingest_bench.py)",
        "",
        f"Common-Crawl-layout dump ({out['warc_files']} member-per-record",
        f"*.warc.gz files, {out['warc_pages']} pages,",
        f"{out['warc_dump_mb']} MB compressed, written executor-side) and a",
        f"{out['pdf_docs']}-doc PDF corpus ({out['pdf_mb']} MB), at",
        f"local[{out['cpus']}]; median of {len(out['warc_all'])} timed runs",
        "after a warm run:",
        "",
        "| surface | wall (s) | all runs (s) | rate |",
        "|---|---|---|---|",
        f"| read_warc (dump -> pages rows) | {out['warc_sec']} |"
        f" {out['warc_all']} | {out['warc_pages_per_sec']} pages/s,"
        f" {out['warc_mb_per_sec']} compressed MB/s |",
        f"| extract_pdf_texts (payload -> text rows) | {out['pdf_sec']} |"
        f" {out['pdf_all']} | {out['pdf_docs_per_sec']} docs/s |",
        "",
        "Both passes are scan-shaped (no shuffle; parsing inside the Arrow",
        "batch), so at crawl scale they are executor-count bound: the",
        "per-core parse rate above × cluster cores = ingest rate.",
        "",
    ]
    replace_section(
        os.path.join(REPO, "BASELINE.md"),
        "## Raw-ingest throughput (tools/ingest_bench.py)",
        "\n".join(lines) + "\n",
    )


if __name__ == "__main__":
    main()
