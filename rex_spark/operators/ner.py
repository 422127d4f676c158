"""NER decode operators (SURVEY §2.5 W1): tag sequence -> entity spans.

Two implementations of the same semantics, both distributed:

- :func:`decode_mentions_udf` — the REx-parity path: per-row
  ``crossing.fan_out`` over (tokens, tags) arrays calling the pinned
  BIO/BMES decode kernel (rex/utils/tagging.py:4-79 semantics,
  re-expressed in kernels/tagging.py).  This is how a real tagger
  model's output is decoded: the sentence fits in a row, no cross-row
  state.
- :func:`decode_runs_sql` — the pure-relational equivalent for
  plain BIO runs: posexplode + window ``lag`` boundary-flag +
  running-sum run-grouping.  Zero Python in the hot path; useful when
  the "tagger" is itself an expression (dictionary / regex features).

For driver-oracle checking, :func:`flag_spans` derives a deterministic
tag from the documents table (token length >= min_len marks an entity
token) so the full tag->span decode is expressible in both Spark and
DuckDB; tests additionally pin decode_mentions_udf == decode_runs_sql
on the same tagged input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.tagging import decode_tag_seq
from .crossing import fan_out

_MENTION_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("ent_type", StringType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("surface", StringType(), False),
    ]
)


def _norm_tokens(col):
    return F.split(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), " ")


def tag_tokens(documents: DataFrame, min_len: int = 6) -> DataFrame:
    """(doc_id, tokens, tags): deterministic BIO tagging of the
    documents table — token length >= min_len opens/continues an ENT
    span.  Stand-in for a model tagger with an SQL-expressible rule so
    the decode itself can be oracle-checked end-to-end."""
    toks = _norm_tokens(F.col("text"))
    # BIO via a per-array scan: B when flagged and previous unflagged
    tags = F.expr(
        f"""
        transform(_toks, (t, i) ->
          CASE WHEN length(t) >= {min_len}
               THEN CASE WHEN i > 0 AND length(_toks[i - 1]) >= {min_len}
                         THEN 'I-ENT' ELSE 'B-ENT' END
               ELSE 'O' END)
        """
    )
    return (
        documents.select("doc_id", toks.alias("_toks"))
        .select("doc_id", F.col("_toks").alias("tokens"), tags.alias("tags"))
    )


VITERBI_LABELS = ["O", "B-ENT", "I-ENT"]


def tag_emissions(documents: DataFrame, min_len: int = 6) -> DataFrame:
    """(doc_id, tokens, emissions): per-token label scores for the M7
    slot — the stand-in tagger emits I-ENT as the TOP score on every
    flagged token (1.0 > B-ENT 0.9), so the greedy argmax sequence is
    ILLEGAL at each run start (I after O) and only a
    transition-constrained decode recovers the BIO-legal path.  Scores
    are JVM-side literals; label order is VITERBI_LABELS."""
    toks = _norm_tokens(F.col("text"))
    flagged = F.array(F.lit(-5.0), F.lit(0.9), F.lit(1.0))
    plain = F.array(F.lit(1.0), F.lit(-5.0), F.lit(-5.0))
    em = F.transform(
        F.col("tokens"),
        lambda t: F.when(F.length(t) >= min_len, flagged).otherwise(plain),
    )
    return documents.select("doc_id", toks.alias("tokens")).select(
        "doc_id", "tokens", em.alias("emissions")
    )


def viterbi_decode_mentions(
    scored: DataFrame,
    labels: list[str] | None = None,
    scheme: str = "BIO",
    sep: str = " ",
) -> DataFrame:
    """M7: transition-constrained Viterbi over (doc_id, tokens,
    emissions ARRAY<ARRAY<DOUBLE>>) rows, then the pinned BIO/BMES
    span decode on the repaired tag sequence.

    The legality mask replicates ConstraintCRF's allowed_transitions
    (/root/reference/rex/modules/crf.py:10-152); with no learned
    transition weights the result is the highest-emission LEGAL path,
    so count_illegal_tags on the output is always 0 (pinned by tests).
    Narrow (no shuffle), Arrow-batched.
    """
    from ..kernels.crf import viterbi_tags

    labels = labels or VITERBI_LABELS

    def spans(tokens, emissions):
        tags = viterbi_tags([list(e) for e in emissions], labels, scheme)
        return _span_rows(tokens, tags, sep)

    return fan_out(
        scored, ("doc_id",), ("tokens", "emissions"), spans, _MENTION_SCHEMA.fields[1:]
    )


def decode_mentions_udf(tagged: DataFrame, sep: str = " ") -> DataFrame:
    """W1 pUDF path: BIO/BMES decode kernel over (tokens, tags) rows.

    Narrow (no shuffle); one input row -> k mention rows.
    """
    return fan_out(
        tagged, ("doc_id",), ("tokens", "tags"),
        lambda tokens, tags: _span_rows(tokens, tags, sep), _MENTION_SCHEMA.fields[1:],
    )


def _span_rows(tokens, tags, sep):
    """One sentence's (tokens, tags) -> (ent_type, start, end, surface)
    rows through the pinned decode kernel."""
    joined = [t + sep for t in tokens[:-1]] + tokens[-1:]
    return [
        (etype, s, e, surface.rstrip(sep))
        for surface, etype, (s, e) in decode_tag_seq(joined, tags)
    ]


def decode_runs_sql(tagged: DataFrame) -> DataFrame:
    """W1 relational path: decode contiguous B/I runs with windows only.

    posexplode -> boundary flag (B tag) -> running sum = run id ->
    group.  Matches decode_mentions_udf for well-formed BIO sequences.
    One shuffle on (doc_id) for the window + one for the groupBy; both
    partition by doc_id, so AQE coalescing keeps them cheap.
    """
    pos = tagged.select(
        "doc_id", F.posexplode(F.arrays_zip("tokens", "tags")).alias("pos", "z")
    ).select(
        "doc_id",
        "pos",
        F.col("z.tokens").alias("token"),
        F.col("z.tags").alias("tag"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        pos.withColumn("boundary", (F.col("tag") == "B-ENT").cast("int"))
        .withColumn("run_id", F.sum("boundary").over(w))
        .where(F.col("tag") != "O")
    )
    return (
        runs.groupBy("doc_id", "run_id")
        .agg(
            F.lit("ENT").alias("ent_type"),
            F.min("pos").cast("int").alias("start"),
            (F.max("pos") + 1).cast("int").alias("end"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s.token,
                ),
                " ",
            ).alias("surface"),
        )
        .select("doc_id", "ent_type", "start", "end", "surface")
    )


def mrc_fanout_union(documents: DataFrame, type_specs: dict[str, tuple[int, int]]) -> DataFrame:
    """M4/A10: MRC-style per-type fan-out then per-doc entity-set union.

    The reference's MRC-NER path builds ONE INPUT ROW PER (text,
    ent_type) query (rex/data/transforms/mrc_ner.py:58-76), decodes
    spans per query, then unions the decoded entity sets per text id
    (rex/tasks/named_entity_recognition.py:113-117).  Here the
    "queries" are length-band specs ``{type: (lo, hi)}`` standing in
    for natural-language type prompts; the decode is the same
    window-run grouping as decode_runs_sql, and the union is
    ``dropDuplicates`` on the long format (A10's preferred shape —
    no per-doc array materialization).
    """
    fan = None
    for ent_type, (lo, hi) in sorted(type_specs.items()):
        pos = documents.select(
            "doc_id",
            F.posexplode(_norm_tokens(F.col("text"))).alias("pos", "token"),
        )
        flagged = pos.withColumn(
            "f",
            (F.length("token") >= lo) & (F.length("token") <= hi),
        )
        w = Window.partitionBy("doc_id").orderBy("pos")
        runs = (
            flagged.withColumn(
                "boundary",
                (
                    F.col("f")
                    & ~F.coalesce(F.lag("f").over(w), F.lit(False))
                ).cast("int"),
            )
            .withColumn("run_id", F.sum("boundary").over(w))
            .where("f")
        )
        spans = runs.groupBy("doc_id", "run_id").agg(
            F.lit(ent_type).alias("ent_type"),
            F.min("pos").cast("long").alias("start_pos"),
            (F.max("pos") + 1).cast("long").alias("end_pos"),
        ).drop("run_id")
        fan = spans if fan is None else fan.unionByName(spans)
    # A10 union: distinct typed spans per doc (long format, no arrays)
    return fan.dropDuplicates(["doc_id", "ent_type", "start_pos", "end_pos"])


def flag_spans(documents: DataFrame, min_len: int = 6, via: str = "sql") -> DataFrame:
    """documents -> (doc_id, ent_type, start, end, surface) mention
    spans of consecutive long tokens; ``via`` picks the decode path
    ('sql' windows, 'udf' kernel decode, 'viterbi' = M7 constrained
    repair of deliberately-illegal greedy emissions)."""
    if via == "viterbi":
        return viterbi_decode_mentions(tag_emissions(documents, min_len=min_len))
    tagged = tag_tokens(documents, min_len=min_len)
    if via == "udf":
        return decode_mentions_udf(tagged)
    return decode_runs_sql(tagged)
