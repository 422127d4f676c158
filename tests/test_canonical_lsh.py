"""The one MinHash-LSH implementation (dedup.lsh_table + lsh_pairs):
its physical plan crosses into Python once and its band rows stay
narrow and are shuffled once under both callers (canonical surfaces,
document near-dup; the latter's job count is pinned); the
canonical edge set equals the in-process replica on the vocabularies
that reach the edge cases (dropped buckets, shingle-less surfaces,
empty batches and tables); document near-dup keeps the empty-text
shingle."""

import itertools
import re

import pytest
from conftest import jvm_list, python_nodes, spark_jobs, walk_plan

from rex_spark.operators.canonical import (
    MAX_BUCKET,
    _driver_similarity_edges,
    _lsh_edges,
    canonicalize_surfaces,
    similarity_edges,
    surface_nodes,
)
from rex_spark.operators.dedup import minhash_lsh_pairs

_JOINS = {"SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"}


def _names(node):
    return [a.name() for a in jvm_list(node.output())]


def _recording_checkpoints(monkeypatch, df_class):
    """Record the executed plan of every eager localCheckpoint."""
    plans = []
    original = df_class.localCheckpoint

    def recording(self, *args, **kwargs):
        out = original(self, *args, **kwargs)
        plans.append(self._jdf.queryExecution().executedPlan())
        return out

    monkeypatch.setattr(df_class, "localCheckpoint", recording)
    return plans


def _canonical_run(spark):
    from tools.cc_soak import build_surface_mentions

    mentions = build_surface_mentions(spark, 60)
    return canonicalize_surfaces(spark, mentions, driver_max_surfaces=0)


def _dedup_run(spark):
    from __spark_entry__ import ORACLE_SF, q_minhash_lsh

    return q_minhash_lsh(spark, ORACLE_SF)


@pytest.mark.parametrize("run", [_canonical_run, _dedup_run], ids=["canonical", "dedup"])
def test_lsh_plan_is_one_python_pass_with_narrow_band_rows(spark, monkeypatch, run):
    """One Python map node (the shingle + band-key pass, run by the
    table's checkpoint and read by every consumer), not one per
    self-join side.  The band join runs in the consumer's plan: one
    side's band rows are shuffled by the one exchange on (band_id,
    band_key), the other side reuses it, and no exchange feeding the
    join (or the bucket-size window under it) carries the shingle
    arrays."""
    plans = _recording_checkpoints(monkeypatch, type(spark.range(0)))
    # shuffle joins, the shape of a vocabulary too large to broadcast:
    # a broadcast join has no exchange on its streamed side (the
    # adaptive threshold defaults to this one)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = run(spark)
        out.collect()
    finally:
        spark.conf.set(key, saved)
    # the returned frame's own plan too: a lazy result runs its joins here
    plans.append(out._jdf.queryExecution().executedPlan())

    python = [
        {(n.nodeName(), n.output().toString()) for n in python_nodes(plan)}
        for plan in plans
    ]
    lsh = [nodes for nodes in python if nodes]
    assert len(lsh) == 1, python  # only the LSH table runs Python
    assert len(lsh[0]) == 1, lsh[0]

    band_joins = [
        n
        for plan in plans
        for n in walk_plan(plan, reused=False)
        if n.nodeName() in _JOINS and "band_key" in n.leftKeys().toString()
    ]
    assert band_joins
    band_exchange = re.compile(r"^Exchange hashpartitioning\(band_id#\d+, band_key#\d+L?,")
    for join in band_joins:
        feeds = list(walk_plan(join, reused=False))
        shuffled = [n for n in feeds if band_exchange.match(n.toString())]
        reused = [
            n
            for n in feeds
            if n.nodeName() == "ReusedExchange"
            and band_exchange.match(n.child().toString())
        ]
        assert (len(shuffled), len(reused)) == (1, 1), join.toString()
        for ex in [n for n in feeds if "Exchange" in n.nodeName()]:
            assert "shingles" not in _names(ex), ex.toString()


def _casings(word, n):
    """n distinct casings of ``word`` (identical normalized forms)."""
    masks = itertools.islice(itertools.product((False, True), repeat=len(word)), n)
    return ["".join(c.upper() if up else c for c, up in zip(word, m)) for m in masks]


def _nodes(spark, surfaces):
    return surface_nodes(spark.createDataFrame([(s,) for s in surfaces], "surface string"))


def _edges(df):
    return {(r["a"], r["b"]) for r in df.collect()}


def test_lsh_edges_match_driver_replica_on_edge_cases(spark):
    from rex_spark.kernels import kb

    casings = _casings("acmewidgetsco", MAX_BUCKET + 5)
    assert len(set(casings)) == MAX_BUCKET + 5
    fuzzy = [
        "northwind traders", "northwind trader", "the northwind traders",
        "contoso pharmaceuticals", "contoso pharmaceutical", "fabrikam",
    ]
    alias = [s for _etype, surfaces in kb.ENTITIES.values() for s in surfaces][:12]
    punct = ["!!!", "...", "--", "?!", "()"]
    # the punctuation surfaces form their own input partitions, so the
    # Arrow pass sees batches whose rows all have empty shingles
    lead = _nodes(spark, casings + fuzzy + alias)
    shingleless = _nodes(spark, punct).coalesce(1)
    nodes = lead.unionByName(shingleless)

    rows = nodes.collect()
    want = _driver_similarity_edges(rows)
    got = _edges(similarity_edges(spark, nodes))
    assert got == want

    ids = {r["surface"]: r["node_id"] for r in rows}
    casing_ids = {ids[s] for s in casings}
    # every band bucket of the casings exceeds MAX_BUCKET and is dropped
    lsh = _edges(_lsh_edges(nodes))
    assert not any(a in casing_ids and b in casing_ids for a, b in lsh)
    rep = min(casing_ids)
    assert {(i, rep) for i in casing_ids - {rep}} <= got  # exact-norm links
    # the fuzzy variants still LSH-link
    assert (
        min(ids["northwind traders"], ids["northwind trader"]),
        max(ids["northwind traders"], ids["northwind trader"]),
    ) in lsh
    # shingle-less surfaces have no LSH edge, only their exact-norm ones
    punct_ids = {ids[s] for s in punct}
    assert not any(a in punct_ids or b in punct_ids for a, b in lsh)
    prep = min(punct_ids)
    assert {(i, prep) for i in punct_ids - {prep}} <= got


@pytest.mark.parametrize("surfaces", [[], ["!!!", "..."]], ids=["empty", "shingleless"])
def test_lsh_edges_on_empty_inputs(spark, surfaces):
    nodes = _nodes(spark, surfaces)
    assert _edges(_lsh_edges(nodes)) == set()
    assert _edges(similarity_edges(spark, nodes)) == _driver_similarity_edges(
        nodes.collect()
    )


def test_minhash_lsh_pairs_keeps_empty_text_shingle(spark):
    """Empty and null text are the single shingle "" (the oracle gold's
    ``text or ""``), so they pair with each other at Jaccard 1.0: the
    shared pass's "no shingles -> drop" rule never drops a document.
    Whitespace and case do not matter; an empty table gives no rows."""
    rows = [
        (1, ""), (2, ""), (3, None),
        (4, "the quick brown fox jumps"), (5, "The quick  brown fox jumps"),
        (6, "a b"),
    ]
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    got = {tuple(r) for r in minhash_lsh_pairs(docs).collect()}
    assert got == {(1, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0), (4, 5, 1.0)}
    assert minhash_lsh_pairs(spark.createDataFrame([], schema)).count() == 0


def test_minhash_lsh_pairs_jobs(spark):
    """Document near-dup on the sf0.01 documents, from the parquet read
    to the collected pairs: the read's schema job, the LSH table's
    checkpoint (the repartition stage under the Python pass, then the
    pass) and the collect's four (the broadcast band join, the
    candidate de-duplication, the shingle side reused by both
    verification joins, then the result)."""
    from __spark_entry__ import ORACLE_SF, q_minhash_lsh

    rows, jobs = spark_jobs(spark, lambda: q_minhash_lsh(spark, ORACLE_SF).collect())
    assert rows
    assert jobs == 1 + 2 + 4
