"""Corpus-quality document filters for the KG pipeline.

Wires the standalone text-analysis family (quality scoring, Gopher
repetition signals, language-ID, PII scrubbing) into ``run_pipeline``
as optional filters between the docs strip and the text plane — the
point where a web-corpus run drops boilerplate / repetitive / wrong-language
pages BEFORE paying for segmentation + pair extraction, exactly where
production pretraining pipelines put them (Rae et al. 2021 App. A;
reference P9 validity-filter parity: rex/data/transforms/sent_re.py:
44-58 logs per-transform drop counts the same way).

Scale design: every signal here is per-row JVM expression work — no
groupBy, no shuffle — so enabling all filters keeps the docs->sentences
text plane narrow.  The signal expressions are SHARED with the
standalone oracle-checked query surfaces (textstats.quality_exprs /
lang_exprs; repetition_exprs is the shuffle-free twin of
repetition_stats, pinned equal by tests), so the filter semantics are
the query semantics.

Drop accounting (P9 parity): one pyspark ``Observation`` carries
per-filter fail counts + kept count, folded into the caller's first
full action over the filtered branch (zero extra Spark jobs), then
landed next to the stage lineage via ``StageStore.write_metrics``.
Same validity caveat as ``filter_valid_mentions``: counts are valid
only after a FULL action over the kept branch (the stage write in the
store path, any full aggregate in the storeless path).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .redaction import _PATTERNS
from .textstats import lang_exprs, quality_exprs, repetition_exprs


@dataclass(frozen=True)
class DocFilters:
    """Declarative filter configuration for the documents stage.

    ``None`` disables the corresponding filter; ``active()`` is False
    when nothing is enabled (the pipeline's text plane then reads the
    pages directly, with no docs strip in front).  ``digest()`` feeds the stage-name
    suffix so a stage root written under one filter setting can never
    resume into a different one (kill/resume stays bit-identical per
    setting).
    """

    min_quality: float | None = None
    max_top_token_frac: float | None = None
    max_rep_2gram_frac: float | None = None
    langs: tuple[str, ...] | None = None
    scrub_pii: bool = False
    rep_max_tokens: int = 4096

    def __post_init__(self):
        if self.langs is not None and not isinstance(self.langs, tuple):
            object.__setattr__(self, "langs", tuple(self.langs))

    def active(self) -> bool:
        return (
            self.min_quality is not None
            or self.max_top_token_frac is not None
            or self.max_rep_2gram_frac is not None
            or self.langs is not None
            or self.scrub_pii
        )

    def digest(self) -> str:
        payload = json.dumps(dataclasses.asdict(self), sort_keys=True)
        return hashlib.md5(payload.encode()).hexdigest()[:8]


def apply_doc_filters(
    docs: DataFrame,
    filters: DocFilters,
    text_col: str = "clean_text",
    observation=None,
) -> DataFrame:
    """docs -> kept docs (original schema), with per-filter drop counts
    folded into ``observation`` and PII optionally scrubbed in place.

    Filter fail counts are INDEPENDENT (a doc failing quality AND lang
    increments both), ``kept_docs`` counts docs passing all active
    filters; PII counts are taken over kept docs only (the scrub only
    touches survivors).  Signals ride one projection so each is
    evaluated once per row.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    flag_cols: dict[str, object] = {}
    fails = []

    if filters.min_quality is not None:
        q = quality_exprs(txt)["quality_score"]
        flag_cols["_fail_quality"] = q < F.lit(float(filters.min_quality))
        fails.append("_fail_quality")
    if (
        filters.max_top_token_frac is not None
        or filters.max_rep_2gram_frac is not None
    ):
        rep = repetition_exprs(txt, max_tokens=filters.rep_max_tokens)
        if filters.max_top_token_frac is not None:
            flag_cols["_fail_top_token"] = rep["top_token_frac"] > F.lit(
                float(filters.max_top_token_frac)
            )
            fails.append("_fail_top_token")
        if filters.max_rep_2gram_frac is not None:
            flag_cols["_fail_rep_2gram"] = rep["rep_2gram_frac"] > F.lit(
                float(filters.max_rep_2gram_frac)
            )
            fails.append("_fail_rep_2gram")
    if filters.langs is not None:
        pred = lang_exprs(txt)["pred_lang"]
        flag_cols["_fail_lang"] = ~pred.isin(*filters.langs)
        fails.append("_fail_lang")

    if fails:
        flag_cols["_pass"] = ~reduce(
            lambda a, b: a | b, [flag_cols[f] for f in fails]
        )
    else:
        flag_cols["_pass"] = F.lit(True)

    flagged = docs.withColumns(flag_cols)

    if observation is not None:
        aggs = [
            F.count(F.lit(1)).alias("input_docs"),
            F.sum(F.col("_pass").cast("long")).alias("kept_docs"),
        ]
        for f in fails:
            aggs.append(
                F.sum(F.col(f).cast("long")).alias(f.replace("_fail_", "drop_"))
            )
        if filters.scrub_pii:
            for name, pat, _repl in _PATTERNS:
                aggs.append(
                    F.sum(
                        F.when(
                            F.col("_pass"),
                            F.size(
                                F.regexp_extract_all(txt, F.lit(pat), F.lit(0))
                            ),
                        ).otherwise(F.lit(0))
                    ).alias(f"pii_{name[2:]}")
                )
        flagged = flagged.observe(observation, *aggs)

    kept = flagged.where(F.col("_pass")).drop(*flag_cols.keys())

    if filters.scrub_pii:
        scrubbed = F.coalesce(F.col(text_col), F.lit(""))
        for _name, pat, repl in _PATTERNS:
            scrubbed = F.regexp_replace(scrubbed, pat, repl)
        kept = kept.withColumn(text_col, scrubbed)

    return kept
