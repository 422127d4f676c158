"""Extraction plane: mentions (NER), candidate pairs (J1), scored triples.

The text plane is ``extract_plane``: pages (or filtered docs) ->
sentences + mentions + scored triples in ONE Arrow crossing
(``crossing.fan_out``, the one per-row Python crossing), with the
per-entity fan-out left to JVM projections (``plane_sentences`` /
``plane_mentions`` / ``plane_triples``).  Mentions and pairs never
leave the executor, so the whole text->triple path is shuffle-free.
It is the only Spark-side caller of the sentence extractor
(``extract_sentence``); its reference is the in-process kernel itself
(kernels/extractor.py), which the tests compare it with row for row.
``decode_sentences`` is the one Arrow crossing every per-sentence model
slot (casrel, usm, scaffolded mechanisms) runs over the plane's
sentence rows; the slots decode from the plane's own mentions, so
no slot runs the mention matcher again.

``candidate_pairs`` and ``filter_valid_mentions`` are the pair-level
query surfaces over a mentions table (REx exposes the same
intermediates: entity lists and candidate pairs per
rex/data/transforms/sent_re.py:44-63) and carry its per-transform drop
counts.  Candidate generation avoids a two-sided shuffle join:
mentions are grouped per sentence (one shuffle) and pairs expand
in-partition via explode, rather than self-joining the mentions table
(two shuffles + skew on hot sentences).
"""

from __future__ import annotations

from typing import Callable, Iterable, List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..kernels.extractor import extract_mentions, extract_sentence
from .crossing import fan_out

# the row shape every plugin extractor (casrel, usm, registered
# mechanisms) emits; plane_triples projects to the same columns
TRIPLES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("sent_id", IntegerType(), False),
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("h_start", IntegerType(), False),
        StructField("h_end", IntegerType(), False),
        StructField("t_start", IntegerType(), False),
        StructField("t_end", IntegerType(), False),
        StructField("score", FloatType(), False),
    ]
)


def filter_valid_mentions(
    mentions: DataFrame, max_seq_len: int, observation=None
) -> tuple[DataFrame, DataFrame]:
    """P9 (rex/data/transforms/sent_re.py:44-58): drop mentions whose
    span exceeds the model's max sequence length.  Returns
    (kept, dropped); the reference logs exactly that drop count per
    transform — pass a pyspark Observation to fold the count into the
    caller's first action (zero extra jobs), then land it via
    StageStore.write_metrics.

    Observation caveat: the counts are valid only after a FULL action
    over one branch (e.g. kept.count(), as the pipeline and tests do).
    Observation.get returns after the FIRST action touching the
    observed plan — a partial scan (first()/limit) or an action on the
    dropped branch would report that job's partial/complementary pass,
    not a full input count."""
    fits = F.col("end") <= max_seq_len
    if observation is not None:
        mentions = mentions.observe(
            observation,
            F.sum((~fits).cast("long")).alias("dropped_mentions"),
            F.count(F.lit(1)).alias("input_mentions"),
        )
    return mentions.where(fits), mentions.where(~fits)


# the pair-count bound of the J1 pair surface: candidate_pairs drops a
# sentence with more mention pairs, and extract_plane flags it t_capped
PAIR_CAP = 400


def candidate_pairs(
    mentions: DataFrame,
    max_pairs_per_sentence: int = PAIR_CAP,
    observation=None,
) -> DataFrame:
    """J1: all ordered (head, tail) mention pairs with distinct spans
    within a sentence.

    One shuffle (groupBy sentence key), then in-partition expansion.
    ``max_pairs_per_sentence`` bounds quadratic blowup on pathological
    sentences (the P9-style validity guard at web scale).  The cap
    drops WHOLE sentences; pass a pyspark Observation and the dropped
    sentence/pair counts are measured by the same job that produces
    the pairs (observe() rides the groupBy output — no extra scan),
    mirroring the reference's per-transform drop logging
    (rex/data/transforms/sent_re.py:44-58); land them via
    StageStore.write_metrics.
    """
    span = F.struct(
        F.col("ent_type"), F.col("start"), F.col("end"), F.col("surface")
    )
    grouped = mentions.groupBy("url", "sent_id").agg(
        F.collect_list(span).alias("ments")
    )
    over = F.size("ments") * F.size("ments") > max_pairs_per_sentence
    if observation is not None:
        grouped = grouped.observe(
            observation,
            F.sum(over.cast("long")).alias("dropped_sentences"),
            F.sum(
                F.when(over, F.size("ments") * (F.size("ments") - 1))
                .otherwise(F.lit(0))
                .cast("long")
            ).alias("dropped_pairs"),
            F.count(F.lit(1)).alias("input_sentences"),
        )
    # bound quadratic expansion before exploding
    grouped = grouped.where(~over)
    pairs = (
        grouped.select(
            "url",
            "sent_id",
            F.explode("ments").alias("head"),
            F.col("ments"),
        )
        .select("url", "sent_id", "head", F.explode("ments").alias("tail"))
        .where(
            (F.col("head.start") != F.col("tail.start"))
            | (F.col("head.end") != F.col("tail.end"))
        )
    )
    return pairs


# Mentions and triples travel as PARALLEL PRIMITIVE ARRAYS, not
# array<struct>: pyarrow converts list<string>/list<int> columns on a
# C fast path, while list-of-dict struct columns fall back to per-
# element Python iteration — measurably slower at millions of spans
# per batch.  arrays_zip on the JVM side reassembles the structs.
# url, warc_ts and lang are the page's own columns (fan_out's keys);
# warc_ts is the StageStore lineage watermark.
PLANE_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("lang", StringType(), True),
        StructField("sent_id", IntegerType(), False),
        StructField("sent", StringType(), True),
        StructField("tokens", ArrayType(StringType()), True),
        StructField("m_type", ArrayType(StringType()), False),
        StructField("m_start", ArrayType(IntegerType()), False),
        StructField("m_end", ArrayType(IntegerType()), False),
        StructField("m_surface", ArrayType(StringType()), False),
        StructField("t_subj", ArrayType(StringType()), False),
        StructField("t_pred", ArrayType(StringType()), False),
        StructField("t_obj", ArrayType(StringType()), False),
        StructField("t_hs", ArrayType(IntegerType()), False),
        StructField("t_he", ArrayType(IntegerType()), False),
        StructField("t_ts", ArrayType(IntegerType()), False),
        StructField("t_te", ArrayType(IntegerType()), False),
        StructField("t_score", ArrayType(FloatType()), False),
        StructField("t_capped", BooleanType(), False),
    ]
)


def extract_plane(pages: DataFrame, include_text: bool = True) -> DataFrame:
    """pages -> per-sentence rows with nested mention/triple arrays, in
    ONE Arrow crossing (``crossing.fan_out``).

    ``pages`` is a pages table (``html`` is stripped with html_to_text
    inside the crossing) or a docs table carrying ``clean_text`` (e.g.
    doc-filtered docs, read as is).

    A chain of one stage per step (strip -> segment -> mentions ->
    triples) would pay a full JVM->Arrow->Python->Arrow->JVM round trip
    per step over the whole text plane; at benchmark scale those
    crossings dominate the actual kernel CPU.  This operator runs the
    kernels back to back inside one crossing and leaves the fan-out
    to JVM-side ``explode`` (plane_mentions / plane_triples), which is
    narrow and cheap.  Output is pinned identical to the in-process
    kernel (extract_document / extract_mentions) by
    tests/test_pipeline_e2e.py.

    Every sentence is scored exactly: the kernel's gap-banded pair scan
    costs near-linear time in the mentions, so a pathological sentence
    (a gazetteer surface repeated thousands of times) cannot stall an
    executor core.  A sentence with more than ``PAIR_CAP`` mention
    pairs is still flagged ``t_capped`` so downstream lineage can count
    them (P9 contract) — they are the sentences ``candidate_pairs``
    drops.
    """
    from ..kernels.textnorm import html_to_text, sent_seg, tokenize

    from_docs = "clean_text" in pages.columns
    # Catalyst cannot prune columns THROUGH a map-in-arrow UDF, so
    # pruning is an operator parameter: consumers that only need
    # mentions + triples (the KG pipeline's graph plane) skip
    # materializing the sentence text and token arrays — roughly half
    # the Arrow bytes.
    text_cols = ("sent", "tokens")
    fields = [
        f for f in PLANE_SCHEMA.fields[3:] if include_text or f.name not in text_cols
    ]

    def sentences(lang, raw):
        text = "" if raw is None else raw if from_docs else html_to_text(raw)
        seg_lang = "zh" if lang == "zh" else "en"
        for sid, sent in enumerate(sent_seg(text, lang=seg_lang)):
            toks = tokenize(sent, lang=seg_lang)
            ms = extract_mentions(toks)
            # field-major: one zip per sentence, not one list per field
            surface, etype, start, end = tuple(zip(*ms)) or ((),) * 4
            tr = tuple(zip(*extract_sentence(toks, mentions=ms))) or ((),) * 8
            yield (
                sid,
                *((sent, toks) if include_text else ()),
                etype, start, end, surface,
                *tr,
                len(ms) * len(ms) > PAIR_CAP,
            )

    return fan_out(
        pages,
        ("url", "warc_ts", "lang"),
        ("lang", "clean_text" if from_docs else "html"),
        sentences,
        fields,
    )


def decode_sentences(
    sentences: DataFrame,
    decode: Callable[[List[str], List[tuple]], Iterable[tuple]],
    fields: Sequence[StructField],
) -> DataFrame:
    """sentence rows -> ``(url, warc_ts, sent_id, *row)`` for every
    ``row`` of ``decode(tokens, mentions)``, in ONE Arrow crossing
    (``crossing.fan_out``): the Spark side of a per-sentence model slot
    (casrel, usm, a scaffolded mechanism).

    ``sentences`` is ``plane_sentences`` of a plane built with text.
    ``mentions`` are the plane's, as ``extract_mentions`` gives them:
    ``(surface, type, start, end)`` tuples.  ``decode`` returns rows
    shaped like ``fields``.
    """
    return fan_out(
        sentences,
        ("url", "warc_ts", "sent_id"),
        ("tokens", "m_surface", "m_type", "m_start", "m_end"),
        lambda tokens, *m_cols: decode(tokens, list(zip(*m_cols))),
        fields,
    )


def plane_sentences(plane: DataFrame) -> DataFrame:
    """Sentence rows with their mention arrays; ``sent``/``tokens`` only
    when the plane has them."""
    cols = ("url", "warc_ts", "lang", "sent_id", "sent", "tokens")
    cols += ("m_type", "m_start", "m_end", "m_surface")
    return plane.select(*[c for c in cols if c in plane.columns])


def plane_mentions(plane: DataFrame) -> DataFrame:
    m = plane.select(
        "url",
        "sent_id",
        F.explode(
            F.arrays_zip("m_type", "m_start", "m_end", "m_surface")
        ).alias("m"),
    )
    return m.select(
        "url",
        "sent_id",
        F.col("m.m_type").alias("ent_type"),
        F.col("m.m_start").alias("start"),
        F.col("m.m_end").alias("end"),
        F.col("m.m_surface").alias("surface"),
    )


def plane_triples(plane: DataFrame) -> DataFrame:
    t = plane.select(
        "url",
        "warc_ts",
        "sent_id",
        F.explode(
            F.arrays_zip(
                "t_subj", "t_pred", "t_obj", "t_hs", "t_he", "t_ts", "t_te",
                "t_score",
            )
        ).alias("t"),
    )
    return t.select(
        "url",
        "warc_ts",
        "sent_id",
        F.col("t.t_subj").alias("subj"),
        F.col("t.t_pred").alias("pred"),
        F.col("t.t_obj").alias("obj"),
        F.col("t.t_hs").alias("h_start"),
        F.col("t.t_he").alias("h_end"),
        F.col("t.t_ts").alias("t_start"),
        F.col("t.t_te").alias("t_end"),
        F.col("t.t_score").alias("score"),
    )


def document_triple_set(triples: DataFrame) -> DataFrame:
    """Distinct (url, subj, pred, obj) — the comparable unit of
    rex/metrics/triple.py:14-19."""
    return triples.select("url", "subj", "pred", "obj").distinct()
