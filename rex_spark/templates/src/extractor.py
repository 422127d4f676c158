"""The task's custom triple-extraction mechanism (pipeline M1 slot).

The sample emits a ``cooccurs_with`` triple for every pair of ADJACENT
content words (alphabetic, length >= 4 — the tokenizer lowercases, so
don't key on capitalization) — deliberately trivial, but shaped
exactly like a real mechanism: sentence rows in (the columns of
``rex_spark.operators.extraction.plane_sentences``: url, warc_ts, lang,
sent_id, sent, tokens and the m_type/m_start/m_end/m_surface mention
arrays), triple rows out
(``rex_spark.operators.extraction.TRIPLES_SCHEMA``).

It is written as pure DataFrame expressions, so it runs JVM-side under
whole-stage codegen with no Python in the hot path.  If your mechanism
needs a model, write a per-sentence ``decode(tokens, mentions) -> rows``
(``mentions``: the plane's ``(surface, type, start, end)`` tuples) and
pass it to ``rex_spark.operators.extraction.decode_sentences`` with
``TRIPLES_SCHEMA.fields[3:]``, as ``operators/pointer_extraction.py``
does: one Arrow crossing, no hand-written ``mapInPandas``.
"""

from pyspark.sql import DataFrame, functions as F

from rex_spark.registry import register


@register("extractor")
def cooccur(sentences: DataFrame) -> DataFrame:
    caps = (
        "filter(transform(tokens, (t, i) -> struct(t as tok, i as idx)), "
        "s -> s.tok rlike '^[a-z]{4,}$')"
    )
    return (
        sentences.withColumn("caps", F.expr(caps))
        .where(F.size("caps") >= 2)
        .select(
            "url",
            "warc_ts",
            "sent_id",
            F.expr(
                "explode(transform(sequence(0, size(caps) - 2), "
                "i -> struct(caps[i] as h, caps[i + 1] as t)))"
            ).alias("pair"),
        )
        .select(
            "url",
            "warc_ts",
            "sent_id",
            F.col("pair.h.tok").alias("subj"),
            F.lit("cooccurs_with").alias("pred"),
            F.col("pair.t.tok").alias("obj"),
            F.col("pair.h.idx").cast("int").alias("h_start"),
            (F.col("pair.h.idx") + 1).cast("int").alias("h_end"),
            F.col("pair.t.idx").cast("int").alias("t_start"),
            (F.col("pair.t.idx") + 1).cast("int").alias("t_end"),
            F.lit(1.0).cast("float").alias("score"),
        )
    )
