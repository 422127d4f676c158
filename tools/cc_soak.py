"""Open-vocabulary soak for the distributed connected-components path.

The benchmark corpus has a KB-bounded gazetteer (32 entities), so
canonicalization always fits the driver union-find escape and the
iterative large-star/small-star loop never gets wall-clock evidence at
its own scale.  This tool synthesizes an OPEN vocabulary — n_groups
entity groups x 4 surface variants, generated entirely JVM-side from
spark.range (no driver materialization) — and forces the distributed
path end to end:

  variant 0   "<hex12> corp"          (base)
  variant 1   "<hex12> corporation"   (LSH char-3-gram jaccard >= 0.6)
  variant 2   "<hex12> corp."         (exact-normalized-form edge)
  variant 3   "the <hex12> corp"      (LSH edge)

<hex12> = md5(group_id)[:12].  12 hex chars (not 8) is load-bearing:
the variant-1 link's jaccard is |sh(base)|/(|sh(base)|+7), which at 8
hex chars is 11/18 = 0.611 — one duplicate shingle inside the hex drops
it below the 0.60 threshold and splits the group (measured: 11% of
groups at hex8).  At 12 chars it is 15/22 = 0.68 with two-duplicate
slack and groups share almost no shingles.

The EXPECTED component count is not assumed to be n_groups: minhash
banding is probabilistic recall (a 0.68-jaccard pair misses all 16
bands with prob (1 - 0.68^4)^16 ~ 2%), so the expectation is computed
by the oracle's in-process canonicalization (same normalize /
char-3-gram / minhash / band-key kernels, then union-find).  The soak
asserts the distributed result EQUALS it — banding misses and all —
and separately reports the planted-link recall those misses imply.

Usage:
  PYTHONPATH=. python tools/cc_soak.py [n_groups] [--update-baseline]

Reports: surfaces, edges, CC iterations, components (vs expected),
wall seconds per stage.  With --update-baseline, rewrites the
"Distributed CC soak" section of BASELINE.md.
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import functions as F


def build_surface_mentions(spark, n_groups: int):
    """(surface) mention rows, 4 variants per group, generated on the
    executors (spark.range -> JVM string exprs; no Python UDF)."""
    ids = spark.range(n_groups * 4)
    gid = (F.col("id") / 4).cast("long")
    variant = F.pmod(F.col("id"), F.lit(4))
    hex12 = F.substring(F.md5(gid.cast("string")), 1, 12)
    surface = (
        F.when(variant == 0, F.concat(hex12, F.lit(" corp")))
        .when(variant == 1, F.concat(hex12, F.lit(" corporation")))
        .when(variant == 2, F.concat(hex12, F.lit(" corp.")))
        .otherwise(F.concat(F.lit("the "), hex12, F.lit(" corp")))
    )
    return ids.select(surface.alias("surface"))


def zipf_counts(n_groups: int):
    """Deterministic Zipfian mention counts per group: tail group r
    gets max(4, n_groups // (r+1)) mentions (so every group still
    yields all four surface variants), and the head group is topped up
    to ~10% of ALL mentions (tail_total // 9) — the J7 rationale's
    head-entity case.  Integer arithmetic only, exactly replicable
    JVM-side."""
    import numpy as np

    r = np.arange(n_groups, dtype=np.int64)
    c = np.maximum(4, n_groups // (r + 1))
    tail_total = int(c[1:].sum())
    c[0] = max(tail_total // 9, 4)
    return c


def build_surface_mentions_zipf(spark, n_groups: int):
    """Same 4-variant surface vocabulary as build_surface_mentions but
    with ZIPFIAN mention multiplicity (head entity ~10% of mentions):
    per-group counts from zipf_counts, expanded JVM-side via
    sequence+explode (the head group's explode lands on one task — the
    skew this soak exists to measure), variant = mention_idx mod 4 so
    the SURFACE set (and therefore the expected partition) is
    identical to the uniform soak's."""
    c = zipf_counts(n_groups)
    head = int(c[0])
    groups = spark.range(n_groups)
    cnt = F.when(F.col("id") == 0, F.lit(head)).otherwise(
        F.greatest(
            F.lit(4),
            F.floor(F.lit(float(n_groups)) / (F.col("id") + 1)).cast("long"),
        )
    )
    mentions = groups.select(
        F.col("id").alias("gid"),
        F.explode(F.sequence(F.lit(0), (cnt - 1).cast("int"))).alias("m"),
    )
    variant = F.pmod(F.col("m"), F.lit(4))
    hex12 = F.substring(F.md5(F.col("gid").cast("string")), 1, 12)
    surface = (
        F.when(variant == 0, F.concat(hex12, F.lit(" corp")))
        .when(variant == 1, F.concat(hex12, F.lit(" corporation")))
        .when(variant == 2, F.concat(hex12, F.lit(" corp.")))
        .otherwise(F.concat(F.lit("the "), hex12, F.lit(" corp")))
    )
    return mentions.select(surface.alias("surface")), int(c.sum()), head


def task_skew_report(spark, job_group: str):
    """max-task / median-task duration over the job group's completed
    stages, via the Spark status REST API (requires spark.ui.enabled).
    Only stages with >= 8 tasks and a >= 1 s max task are considered
    (tiny tasks measure scheduler noise, not skew).  Returns the worst
    (ratio, stage_id, n_tasks, max_ms, median_ms) or None."""
    import json as _json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def get(path):
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}{path}", timeout=30
        ) as resp:
            return _json.load(resp)

    jobs = [j for j in get("/jobs") if j.get("jobGroup") == job_group]
    stage_ids = sorted({sid for j in jobs for sid in j["stageIds"]})
    worst = None
    for sid in stage_ids:
        try:
            tasks = get(f"/stages/{sid}/0/taskList?length=10000")
        except Exception:
            continue  # skipped / not-materialized stages have no attempt
        durs = sorted(
            t.get("duration", 0)
            for t in tasks
            if t.get("status") == "SUCCESS"
        )
        if len(durs) < 8 or durs[-1] < 1000:
            continue
        med = durs[len(durs) // 2]
        ratio = durs[-1] / max(med, 1)
        if worst is None or ratio > worst[0]:
            worst = (round(ratio, 2), sid, len(durs), durs[-1], med)
    return worst


# a single task may run at most this multiple of the stage-median task:
# the Zipf head (10% of mentions on one entity) must be absorbed by
# map-side partial aggregation + AQE, not serialized onto one straggler
TASK_SKEW_BOUND = 6.0


def expected_components_py(n_groups: int) -> dict:
    """The expected partition of all 4*n_groups surfaces from the
    oracle's in-process canonicalization (``oracle_gold._canonicalize_py``:
    global exact-normalized-form groups, global LSH buckets with the
    MAX_BUCKET degenerate-bucket drop, exact-Jaccard verification of
    every in-bucket candidate, union-find) — same kernels and caps as
    the distributed path, CROSS-GROUP candidates included (distinct md5
    hexes CAN collide on long suffixes and genuinely clear the 0.6
    threshold: measured 2 such merges per 20k groups).  Returns the
    component count and the number of groups whose four variants share
    one component."""
    import hashlib
    from collections import Counter

    from rex_spark.oracle_gold import _canonicalize_py

    groups = [
        (f"{h} corp", f"{h} corporation", f"{h} corp.", f"the {h} corp")
        for h in (
            hashlib.md5(str(g).encode()).hexdigest()[:12] for g in range(n_groups)
        )
    ]
    comp = _canonicalize_py(Counter(s for group in groups for s in group))
    intact = sum(1 for group in groups if len({comp[s] for s in group}) == 1)
    return {"expected_components": len(set(comp.values())), "groups_intact": intact}


def run_soak(spark, n_groups: int, zipf: bool = False) -> dict:
    from rex_spark.operators.canonical import (
        connected_components,
        similarity_edges,
        surface_nodes,
    )

    job_group = None
    extra = {}
    if zipf:
        mentions, n_mentions, head_mentions = build_surface_mentions_zipf(
            spark, n_groups
        )
        extra = {
            "n_mentions": n_mentions,
            "head_mentions": head_mentions,
            "head_share": round(head_mentions / n_mentions, 4),
        }
        job_group = "cc_soak_zipf"
        spark.sparkContext.setJobGroup(job_group, "zipf CC soak", False)
    else:
        mentions = build_surface_mentions(spark, n_groups)
    t0 = time.time()
    nodes = surface_nodes(mentions).persist()
    n_surfaces = nodes.count()
    t_nodes = time.time() - t0

    t0 = time.time()
    edges = similarity_edges(spark, nodes).persist()
    n_edges = edges.count()
    t_edges = time.time() - t0

    t0 = time.time()
    # driver_max_edges=0: never take the union-find escape — this run
    # exists to time the iterative loop itself
    comp, iters = connected_components(edges, driver_max_edges=0)
    n_components = comp.select("component").distinct().count()
    # singletons (nodes with no edges) don't appear in the mapping;
    # they are their own components
    n_mapped = comp.select("node_id").distinct().count()
    n_singletons = n_surfaces - n_mapped
    t_cc = time.time() - t0

    nodes.unpersist()
    edges.unpersist()

    if job_group is not None:
        spark.sparkContext.setJobGroup("", "", False)
        skew = task_skew_report(spark, job_group)
        if skew is not None:
            ratio, sid, n_tasks, max_ms, med_ms = skew
            extra.update(
                {
                    "task_skew_ratio": ratio,
                    "task_skew_stage": sid,
                    "task_skew_stage_tasks": n_tasks,
                    "task_skew_max_ms": max_ms,
                    "task_skew_median_ms": med_ms,
                }
            )
        else:
            extra["task_skew_ratio"] = None  # no stage big enough to judge

    t0 = time.time()
    exp = expected_components_py(n_groups)
    t_replica = time.time() - t0
    return {
        **extra,
        "n_groups": n_groups,
        "n_surfaces": n_surfaces,
        "n_edges": n_edges,
        "cc_iterations": iters,
        "n_components": n_components + n_singletons,
        "expected_components": exp["expected_components"],
        "groups_intact": exp["groups_intact"],
        "t_nodes_s": round(t_nodes, 1),
        "t_edges_s": round(t_edges, 1),
        "t_cc_s": round(t_cc, 1),
        "t_replica_s": round(t_replica, 1),
    }


def main() -> None:
    from rex_spark.session import get_session

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_groups = int(args[0]) if args else 75_000
    zipf = "--zipf" in sys.argv
    spark = get_session(
        # the status REST API (task_skew_report) needs the UI server
        extra_conf={"spark.ui.enabled": "true"} if zipf else None,
    )
    res = run_soak(spark, n_groups, zipf=zipf)
    print(res)
    ok = res["n_components"] == res["expected_components"]
    print("COMPONENT_COUNT_MATCH", ok)
    if zipf:
        ratio = res.get("task_skew_ratio")
        skew_ok = ratio is not None and ratio <= TASK_SKEW_BOUND
        print(
            f"TASK_SKEW_OK {skew_ok} "
            f"(max/median = {ratio}, bound = {TASK_SKEW_BOUND})"
        )
        if "--update-baseline" in sys.argv:
            from tools.section_util import replace_section

            lines = [
                f"Zipfian-mention soak (tools/cc_soak.py --zipf): the same "
                f"{res['n_groups']:,}-group / {res['n_surfaces']:,}-surface "
                f"vocabulary, but mention multiplicity is Zipf-distributed "
                f"— {res['n_mentions']:,} mention rows with the head entity "
                f"holding {res['head_mentions']:,} "
                f"({res['head_share']:.1%}) of them (the J7 head-entity "
                "case; SURVEY §2.3).",
                "",
                f"- components: {res['n_components']:,} == expected "
                f"{res['expected_components']:,} (exact in-process replica "
                "— the surface SET is identical to the uniform soak's, so "
                "the expectation is too)",
                f"- stage walls: nodes {res['t_nodes_s']} s, edges "
                f"{res['t_edges_s']} s, CC {res['t_cc_s']} s "
                f"({res['cc_iterations']} iterations)",
                f"- task-skew bound (Spark status API, every stage in the "
                f"soak's job group with >= 8 tasks and a >= 1 s max task): "
                f"worst max-task/median-task = **{res['task_skew_ratio']}** "
                f"(stage {res.get('task_skew_stage')}, "
                f"{res.get('task_skew_stage_tasks')} tasks, max "
                f"{res.get('task_skew_max_ms')} ms vs median "
                f"{res.get('task_skew_median_ms')} ms) — bound "
                f"{TASK_SKEW_BOUND}, asserted by the tool.  The 10% head "
                "is absorbed by map-side partial aggregation (surface "
                "counting collapses duplicate mentions before the "
                "shuffle), so no straggler task serializes it.",
            ]
            section = (
                "## Distributed CC soak (Zipfian mentions)\n\n"
                + "\n".join(lines)
                + "\n"
            )
            replace_section(
                "BASELINE.md",
                "## Distributed CC soak (Zipfian mentions)",
                section,
            )
            print("BASELINE.md updated")
        spark.stop()
        if not (ok and skew_ok):
            sys.exit(1)
        return
    if "--update-baseline" in sys.argv:
        from tools.section_util import replace_section

        lines = [
            "Open-vocabulary soak (tools/cc_soak.py): synthetic "
            f"{res['n_groups']:,} entity groups x 4 surface variants = "
            f"{res['n_surfaces']:,} distinct surfaces, generated JVM-side; "
            "driver escape disabled (driver_max_edges=0).",
            "",
            f"- similarity edges: {res['n_edges']:,} "
            f"(alias/exact-norm/MinHash-LSH union) in {res['t_edges_s']} s",
            f"- large-star/small-star converged in {res['cc_iterations']} "
            f"iterations, {res['t_cc_s']} s wall",
            f"- components: {res['n_components']:,} == expected "
            f"{res['expected_components']:,} from the exact in-process "
            f"replica of the edge logic ({res['t_replica_s']} s; same "
            "normalize/shingle/minhash/band kernels + union-find)",
            f"- planted-link recall: {res['groups_intact']:,}/"
            f"{res['n_groups']:,} groups fully merged "
            f"({res['groups_intact'] / res['n_groups']:.1%}) — the misses "
            "are minhash BAND recall on the 0.68-jaccard link "
            "((1 - 0.68^4)^16 ~ 2% per pair), predicted exactly by the "
            "replica, not engine error",
            f"- surface-node build: {res['t_nodes_s']} s",
            "",
            "The loop's per-round cost is two shuffles over the shrinking "
            "edge set with a localCheckpoint between rounds; iteration "
            "count is O(log n) in the largest component diameter (here the "
            "4-variant stars converge immediately after the first "
            "alternation).  At 10^12 documents the same loop runs with "
            "reliable .checkpoint() instead of localCheckpoint.",
        ]
        section = "## Distributed CC soak\n\n" + "\n".join(lines) + "\n"
        replace_section("BASELINE.md", "## Distributed CC soak", section)
        print("BASELINE.md updated")
    spark.stop()


if __name__ == "__main__":
    main()
