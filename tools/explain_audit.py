#!/usr/bin/env python
"""Dump formatted physical plans for representative queries -> PLANS.md.

Checks, per query, the scale properties that matter at 100 TB:
- parquet scans carry PushedFilters / pruned ReadSchema;
- small dimension joins are broadcast (no shuffle of the fact side);
- aggregations have map-side partial steps (HashAggregate x2);
- WholeStageCodegen spans cover the relational hot path.

Run: PYTHONPATH=. python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

AUDITED = [
    "agg_pricing",
    "join_lookup",
    "semi_join",
    "pairgen",
    "window_dedup",
    "exact_dedup",
    "ner_decode_sql",
    "cosine_topk",
    "month_orders",
    "asof_pairs",
    "macro_prf1",
    "dict_encode",
    "mrc_union",
    "salted_provenance",
    "multi_hot",
    "mrc_overlap",
    "embedding_neardup",
    "ngram_jaccard",
    "minhash_lsh",
    "lsh_ann_topk",
    "emb_lookup",
    "triple_facets",
    "neardup_planted",
    "ivf_topk",
    "rep_stats",
    "pii_scrub",
    "doc_profile",
    # r5 ingest/temporal surfaces: scan-shaped crossing.fan_out maps —
    # the audit shows no shuffle and a narrow pre-Python select
    "video_frames",
    "pdf_text",
    "warc_pages",
    "url_canon",  # pure codegen end to end (no Python stage at all)
]

# merged surfaces with a pinned scan budget: doc_profile's contract is
# ONE pass over documents (VERDICT r4 #2) — the audit fails loudly if a
# refactor reintroduces the five-scan join
MAX_SCANS = {"doc_profile": 1}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def checkpoint_plans(df_class, build):
    """``build()``, and the formatted plan of every localCheckpoint
    taken while it runs: a query that checkpoints part of its work
    before returning (``dedup.lsh_pairs``' LSH table) explains that
    part as a scan of the checkpoint, so its real plan is the
    checkpointed one plus the returned one."""
    plans = []
    original = df_class.localCheckpoint

    def recording(self, *args, **kwargs):
        out = original(self, *args, **kwargs)
        plans.append(plan_of(self))
        return out

    df_class.localCheckpoint = recording
    try:
        df = build()
    finally:
        df_class.localCheckpoint = original
    return df, plans


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from rex_spark.session import get_session

    sf = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    # AQE off for the audit only: AdaptiveSparkPlan defers codegen-id
    # assignment, hiding WholeStageCodegen spans from the static
    # explain.  Production sessions keep AQE on (rex_spark/session.py).
    spark = get_session(
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    qmap = entry_mod.bench_queries()

    lines = [
        "# PLANS — physical-plan audit of representative queries",
        "",
        f"Generated by `tools/explain_audit.py` at `{sf}`.",
        "",
        "What to look for (and what the audit asserts in the summary",
        "table): pruned `ReadSchema` on every parquet scan, broadcast",
        "joins for dimension lookups, two-phase (`partial` ->",
        "`finalmerge`) hash aggregates, and wide `WholeStageCodegen`",
        "spans around the relational operators.  Python appears only at",
        "explicit `MapInArrow`/`MapInPandas`/`FlatMapGroupsInPandas` nodes.",
        "A query that checkpoints part of its work while it is built",
        "(`minhash_lsh`'s LSH table) is audited on the checkpointed plans",
        "too, listed before the plan that scans the checkpoint.",
        "",
        "| query | scans pruned | broadcast join | partial agg | codegen | scans |",
        "|---|---|---|---|---|---|",
    ]
    details = []
    df_class = type(spark.range(0))
    for name in AUDITED:
        df, checkpointed = checkpoint_plans(df_class, lambda: qmap[name](spark, sf))
        p = "\n".join(
            [f"checkpointed while building:\n{c}" for c in checkpointed] + [plan_of(df)]
        )
        pruned = "ReadSchema" in p
        bcast = "BroadcastHashJoin" in p
        partial = "partial" in p.lower() or "HashAggregate" in p
        codegen = "codegen id" in p or "WholeStageCodegen" in p
        # formatted explain shows each node twice (tree + details);
        # count the numbered details headers only
        n_scans = len(re.findall(r"\(\d+\) Scan parquet", p))
        budget = MAX_SCANS.get(name)
        if budget is not None and n_scans > budget:
            raise SystemExit(
                f"{name}: {n_scans} parquet scans exceed its pinned "
                f"budget of {budget} (see MAX_SCANS)"
            )
        lines.append(
            f"| {name} | {'yes' if pruned else '—'} |"
            f" {'yes' if bcast else '—'} |"
            f" {'yes' if partial else '—'} |"
            f" {'yes' if codegen else '—'} |"
            f" {n_scans} |"
        )
        details += [f"\n## {name}\n", "```", p.rstrip(), "```"]

    out = "\n".join(lines + details) + "\n"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write(out)
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
