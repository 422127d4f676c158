"""End-to-end KG construction pipeline (the north-star DAG).

pages (Iceberg-shaped input table) -> text plane (sentences + mentions
+ triples) -> canonical entities/edges, with optional StageStore
checkpointing so a killed job resumes from the last committed stage.

Stage graph (shuffle boundaries marked *):

    pages [--strip--> docs --doc filters-->] --extract_plane--> plane
                                                                  |
               +------------------------+-------------------------+
               |                        |                         |
           sentences           mentions --> *surfaces          triples
                                      *similarity edges           |
                                      *components                 |
                                          +--> entities           |
                                          +--> edges <------------+

The text plane is one stage, ``plane``, made in one Arrow crossing;
the bracketed docs strip (a second crossing) runs only when doc filters
are active, since the filters read clean text.  Sentences, mentions
and triples are JVM projections of the plane.  The text plane is
entirely narrow (zero shuffles from scan to triple emission); the graph
plane owns the shuffles and is where skew handling (AQE skew join,
salted support aggregation) lives.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame, SparkSession

from .io.stages import StageStore
from .kernels.synth import make_pages
from .operators.canonical import (
    canonicalize_surfaces,
    edges_from_labeled,
    entities_from_labeled,
)
from .operators.crossing import fan_out
from .operators.extraction import document_triple_set
from .operators.textplane import PAGES_SCHEMA, clean_pages


def build_pages_df(spark: SparkSession, n_pages: int, seed: int = 42) -> DataFrame:
    """Synthesize the input table (BASELINE.json input_hint shape).

    Deterministic stand-in for the Common-Crawl Iceberg table; at
    deployment this is ``spark.read.table("pages")`` and everything
    downstream is unchanged.
    """
    pages, _planted = make_pages(n_pages, seed=seed)
    rows = [
        (p["url"], p["warc_ts"], p["html"], p["text"], p["lang"]) for p in pages
    ]
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)


def build_pages_df_distributed(
    spark: SparkSession,
    n_pages: int,
    seed: int = 42,
    partitions: int | None = None,
    start: int = 0,
) -> DataFrame:
    """Synthesize the input table ON THE EXECUTORS.

    Page i depends only on (seed, i), so executors generate disjoint id
    ranges independently — byte-identical to :func:`build_pages_df` but
    with no driver materialization, which is the only synthesis path
    that holds at benchmark scale (a driver-side list does not).
    ``start`` offsets the id range (pages start..start+n_pages-1) so
    callers can synthesize disjoint waves of the same corpus.
    """
    from .kernels.synth import make_page

    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(i):
        # make_page's naive warc_ts is UTC wall time, which is how Arrow
        # reads a naive datetime into the UTC timestamp field
        p = make_page(i, seed=seed)[0]
        yield (p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])

    return fan_out(
        spark.range(start, start + n_pages).repartition(parts), (), ("id",), gen,
        PAGES_SCHEMA.fields,
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    store: StageStore | None = None,
    salt_partitions: int = 8,
    include_sentence_text: bool = True,
    score_threshold: float | None = None,
    driver_max_surfaces: int | None = None,
    extractor: str = "fused",
    doc_filters=None,
) -> Dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns all stage DataFrames.

    The text plane is ONE stage, ``plane``: extract_plane runs pages ->
    sentences + mentions + triples in one Arrow crossing (SURVEY §2.10
    batching note), and ``sentences`` / ``mentions`` / ``triples`` are
    JVM projections of it.  With a StageStore, every stage (plane,
    surfaces, entities, edges) is compute-or-load and appends
    per-partition lineage rows.  Without one, the plane and the labeled
    surfaces are persisted MEMORY_AND_DISK so the several outputs share
    one computation — the in-memory analog of the stage checkpoints.
    ``docs`` is returned lazily (forced only if the caller asks).
    ``include_sentence_text=False`` keeps sentence text and tokens out
    of the plane (stage ``plane_notext``, so a root never resumes
    across the two schemas).

    ``extractor`` picks the triple-extraction mechanism filling the M1
    slot: ``"fused"`` (pair scorer, default — the plane's own triples),
    or any name in the ``"extractor"`` registry namespace — built-ins
    ``"casrel"`` (the M3/W2 two-stage pointer decode,
    operators/pointer_extraction.py) and ``"usm"`` (the M6 unified
    ttl/ltl/tll pointer-algebra decode, operators/usm.py; both pinned
    to P/R >= 0.95 agreement by tests), or a user mechanism registered
    with ``@rex_spark.registry.register("extractor")`` (the rex
    registry / --include-package extension surface).  A registered
    mechanism runs as its own ``triples_<name>`` stage over the plane's
    sentences, so its plane always carries sentence text.

    ``doc_filters`` (an :class:`~rex_spark.operators.docfilters.DocFilters`)
    enables corpus-quality filtering of the docs before the plane —
    quality-score / repetition / language cuts plus optional PII
    scrubbing, all per-row JVM expressions (the text plane stays
    narrow); the plane then reads the filtered ``clean_text``.
    Per-filter drop counts ride a single Observation — with a store
    they land via ``write_metrics("doc_filters<sfx>")`` once the plane
    stage commits; the Observation itself is returned under
    ``"doc_filter_metrics"`` (None when the plane stage was resumed —
    read the stored metrics table instead).  Filtered stage names carry
    the filter-config digest so one stage root never resumes across
    filter settings.
    """
    from pyspark import StorageLevel

    from .operators.extraction import (
        extract_plane,
        plane_mentions,
        plane_sentences,
        plane_triples,
    )
    from .registry import NAMESPACE_REGISTRY

    if extractor != "fused" and extractor not in NAMESPACE_REGISTRY["extractor"]:
        raise ValueError(
            f"unknown extractor: {extractor!r} (register it with "
            f"@register('extractor'))"
        )
    filters_active = doc_filters is not None and doc_filters.active()
    # registered decoders read the plane's sentence tokens
    include_text = include_sentence_text or extractor != "fused"
    # extractor-dependent stages carry the extractor in their NAME so a
    # stage root written with one mechanism never resumes into the other
    # (extractor-independent stages — plane/surfaces/entities — stay
    # shared and ARE reused across extractors); when doc filters are
    # active EVERY stage additionally carries the filter digest (all
    # downstream content depends on the kept set)
    ext_sfx = "" if extractor == "fused" else f"_{extractor}"
    fsfx = f"_fl{doc_filters.digest()}" if filters_active else ""
    plane_name = f"plane{'' if include_text else '_notext'}{fsfx}"

    def stage(name: str, fn, partition_by=None) -> DataFrame:
        if store is None:
            return fn()
        return store.run(name, fn, partition_by=partition_by)

    docs = clean_pages(pages)
    source = pages
    obs = None
    if filters_active:
        from pyspark.sql import Observation

        from .operators.docfilters import apply_doc_filters

        if store is None or not store.is_committed(plane_name):
            obs = Observation()
        docs = source = apply_doc_filters(docs, doc_filters, observation=obs)

    plane = stage(plane_name, lambda: extract_plane(source, include_text=include_text))
    if store is None:
        plane = plane.persist(StorageLevel.MEMORY_AND_DISK)
    elif obs is not None:
        # the plane write was a full action over the observed docs ->
        # counts are final; land them next to the lineage
        store.write_metrics(f"doc_filters{fsfx}", obs.get)
    sentences = plane_sentences(plane)
    mentions = plane_mentions(plane)
    if extractor == "fused":
        triples = plane_triples(plane)
    else:
        _ext = NAMESPACE_REGISTRY["extractor"][extractor]
        triples = stage(f"triples{ext_sfx}{fsfx}", lambda: _ext(sentences))
    labeled = stage(
        f"surfaces{fsfx}",
        lambda: canonicalize_surfaces(
            spark, mentions, driver_max_surfaces=driver_max_surfaces
        ),
    )
    if store is None:
        labeled = labeled.persist(StorageLevel.MEMORY_AND_DISK)

    if score_threshold is not None:
        # extra T3 cut over the kernel's own threshold (conf
        # pred_threshold analog) — applied before dedup/graph use
        from pyspark.sql import functions as F

        triples = triples.where(F.col("score") >= F.lit(score_threshold))

    # entities sorted by id within files (point-lookup friendly); edges
    # partitioned by predicate — the low-cardinality column every graph
    # query filters on, so partition pruning applies (Iceberg analog:
    # PARTITIONED BY pred, sorted on (src, dst))
    entities = stage(
        f"entities{fsfx}",
        lambda: entities_from_labeled(labeled).sortWithinPartitions("entity_id"),
    )
    edges = stage(
        f"edges{ext_sfx}{fsfx}",
        lambda: edges_from_labeled(
            labeled, triples, salt_partitions=salt_partitions
        ).sortWithinPartitions("src", "dst"),
        partition_by=["pred"],
    )

    return {
        "docs": docs,
        "sentences": sentences,
        "triples": triples,
        "mentions": mentions,
        "surfaces": labeled,
        "entities": entities,
        "edges": edges,
        "triple_set": document_triple_set(triples),
        "doc_filter_metrics": obs,
    }
