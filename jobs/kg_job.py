#!/usr/bin/env python
"""Production entry point for the KG-construction pipeline.

The Spark analog of REx's config-driven ``rex train -c conf.yaml``
lifecycle (SURVEY.md §3.1): one job script, all behavior from flags,
submitted as

    spark-submit --py-files rex_spark.zip jobs/kg_job.py \
        --pages-table /data/pages \
        --stage-root  /data/stages \
        --salt-partitions 64

or straight from a raw Common-Crawl-layout WARC dump (text/lang
recomputed, not trusted):

    spark-submit --py-files rex_spark.zip jobs/kg_job.py \
        --pages-warc '/data/crawl/*.warc.gz' --stage-root /data/stages

or locally:

    PYTHONPATH=. python jobs/kg_job.py --synthetic 10000 --stage-root /tmp/kg

Reruns resume from the last committed stage (StageStore: the text
plane is one ``plane`` stage, then surfaces, entities, edges); pass
--no-store for a one-shot in-memory run of the same plan.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group()
    src.add_argument("--pages-table", help="path of the pages table (parquet/Iceberg-style dir)")
    src.add_argument("--pages-warc", help="directory/glob of raw *.warc(.gz) "
                     "files (Common-Crawl layout); the job starts from the "
                     "raw dump — text/lang are recomputed, not trusted")
    src.add_argument("--synthetic", type=int, metavar="N", help="synthesize N pages (seed fixed)")
    p.add_argument("-c", "--config", action="append", default=[],
                   help="yaml config file(s); later files override earlier (REx -c)")
    p.add_argument("-a", "--set", dest="dotlist", action="append", default=[],
                   help="key=value overrides, highest precedence (REx -a)")
    p.add_argument("--stage-root", help="checkpoint root; omit with --no-store")
    p.add_argument("--store-backend", choices=["parquet", "iceberg"],
                   default=None,
                   help="StageStore backend (default parquet); 'iceberg' "
                        "treats --stage-root as <catalog>.<namespace> and "
                        "requires the Iceberg runtime jar on the session")
    p.add_argument("--no-store", action="store_true", help="storeless fused run (no resume)")
    p.add_argument("--salt-partitions", type=int, default=None, help="J7 hub-key salting width")
    p.add_argument("--master", default=None, help="override spark master (default env/local)")
    p.add_argument("--seed", type=int, default=None)
    p.add_argument("--skip-sentence-text", action="store_true",
                   help="prune sentence text through the UDF (graph outputs only)")
    p.add_argument("--extractor", default=None,
                   help="triple extraction mechanism: 'fused' (pair "
                        "scorer, the config default), built-ins 'casrel' "
                        "/ 'usm', or any name registered under the "
                        "'extractor' namespace (rex_spark.registry; load "
                        "plugin packages with --include-package); an "
                        "explicit flag overrides yaml")
    p.add_argument("--min-quality", type=float, default=None,
                   help="drop docs with composite quality_score below this "
                        "(textstats.doc_stats semantics)")
    p.add_argument("--max-top-token-frac", type=float, default=None,
                   help="drop docs whose most frequent token exceeds this "
                        "share (Gopher repetition rule; conventional 0.2)")
    p.add_argument("--max-rep-2gram-frac", type=float, default=None,
                   help="drop docs whose duplicate-2gram fraction exceeds "
                        "this (conventional 0.5)")
    p.add_argument("--langs", default=None,
                   help="comma-separated allowed predicted languages "
                        "(textstats.lang_id heuristic); others dropped")
    p.add_argument("--scrub-pii", action="store_true",
                   help="replace email/url/phone spans with typed "
                        "placeholders in doc text before segmentation")
    p.add_argument("--include-package", action="append", default=None,
                   help="import this package (and submodules) on the "
                        "driver before running, so its @register "
                        "decorators fire — the rex --include-package "
                        "plugin hook")
    return p.parse_args(argv)


def main(argv=None) -> None:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from rex_spark.config import dump_config, load_config
    from rex_spark.io.stages import StageStore
    from rex_spark.pipeline import build_pages_df_distributed, run_pipeline
    from rex_spark.registry import import_submodules
    from rex_spark.session import get_session

    # plugin packages register custom stage functions (e.g. extractors)
    # on the driver BEFORE any plan is built
    for pkg in args.include_package or ():
        import_submodules(pkg)

    # defaults -> yaml file(s) -> dotlist -> explicit CLI flags
    cfg = load_config(args.config, args.dotlist)
    cli = {
        "pages_table": args.pages_table,
        "synthetic_pages": args.synthetic,
        "stage_root": args.stage_root,
        "salt_partitions": args.salt_partitions,
        "master": args.master,
        "seed": args.seed,
        "extractor": args.extractor,
        "store_backend": args.store_backend,
        "min_quality": args.min_quality,
        "max_top_token_frac": args.max_top_token_frac,
        "max_rep_2gram_frac": args.max_rep_2gram_frac,
        "langs": (
            [s.strip() for s in args.langs.split(",") if s.strip()]
            if args.langs
            else None
        ),
    }
    cfg = cfg.merged_with({k: v for k, v in cli.items() if v is not None})
    if args.skip_sentence_text:
        cfg = cfg.merged_with({"include_sentence_text": False})
    if args.scrub_pii:
        cfg = cfg.merged_with({"scrub_pii": True})

    if (cfg.pages_table is None and cfg.synthetic_pages is None
            and args.pages_warc is None):
        raise SystemExit(
            "need --pages-table/--pages-warc/--synthetic (or config equivalent)"
        )
    if not args.no_store and not cfg.stage_root:
        raise SystemExit("--stage-root (or config stage_root) required unless --no-store")

    spark = get_session(
        master=cfg.master,
        shuffle_partitions=cfg.shuffle_partitions,
        app_name="rex_spark_kg_job",
    )
    if args.pages_warc:
        # raw Common-Crawl dump: file-parallel WARC parse; a dump has
        # no trusted text/lang columns — the pipeline recomputes both
        from pyspark.sql import functions as F

        from rex_spark.io.warc import read_warc

        pages = (
            read_warc(spark, args.pages_warc)
            .withColumn("text", F.lit(None).cast("string"))
            .withColumn("lang", F.lit(None).cast("string"))
        )
    elif cfg.pages_table:
        pages = spark.read.parquet(cfg.pages_table)
    else:
        pages = build_pages_df_distributed(spark, cfg.synthetic_pages, seed=cfg.seed)

    store = (
        None
        if args.no_store
        else StageStore(spark, cfg.stage_root, backend=cfg.store_backend)
    )
    if cfg.stage_root:
        dump_config(cfg, cfg.stage_root)  # reference's task-dir config dump
    t0 = time.perf_counter()
    result = run_pipeline(
        spark,
        pages,
        store=store,
        salt_partitions=cfg.salt_partitions,
        include_sentence_text=cfg.include_sentence_text,
        score_threshold=cfg.score_threshold,
        driver_max_surfaces=cfg.driver_max_surfaces,
        extractor=cfg.extractor,
        doc_filters=cfg.doc_filters(),
    )
    summary = {
        "triples": result["triple_set"].count(),
        "entities": result["entities"].count(),
        "edges": result["edges"].count(),
        "wall_sec": round(time.perf_counter() - t0, 2),
        "resumable": store is not None,
    }
    obs = result.get("doc_filter_metrics")
    if obs is not None:
        # valid here: the counts above (store path: the stage writes)
        # ran a full action over the filtered docs branch
        summary["doc_filters"] = {k: int(v) for k, v in obs.get.items()}
    if store is not None:
        # run-level metrics land next to the per-partition lineage rows
        # (north-rule: resumable checkpoints + lineage + metrics)
        store.write_metrics(
            "run_summary",
            {k: summary[k] for k in ("triples", "entities", "edges")},
        )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
