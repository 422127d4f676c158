"""The distributed MinHash-LSH edge source: its physical plan crosses
into Python once, its band rows stay narrow, and its edge set equals
the in-process replica on the vocabularies that reach the edge cases
(dropped buckets, shingle-less surfaces, empty batches and tables)."""

import itertools
import re

import pytest

from rex_spark.operators.canonical import (
    MAX_BUCKET,
    _driver_similarity_edges,
    _lsh_edges,
    canonicalize_surfaces,
    similarity_edges,
    surface_nodes,
)

# ArrowEvalPython, MapInPandas, (Python)MapInArrow, FlatMapGroupsInPandas...
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
_JOINS = {"SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"}


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _walk(node):
    """Every physical node under ``node``, descending into adaptive
    plans, query stages, reused exchanges and cached relations."""
    yield node
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        inner = [node.executedPlan()]
    elif name.endswith("QueryStage"):
        inner = [node.plan()]
    elif name == "ReusedExchange":
        inner = [node.child()]
    elif name == "InMemoryTableScan":
        inner = [node.relation().cachedPlan()]
    else:
        inner = _seq(node.children())
    for child in inner:
        yield from _walk(child)


def _names(node):
    return [a.name() for a in _seq(node.output())]


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


def test_lsh_plan_is_one_python_pass_with_narrow_band_rows(spark, monkeypatch):
    """One Python map node (the shingle + band-key pass, cached and
    read by every consumer), not one per self-join side and per
    bucket-size aggregate.  No exchange feeding a band join carries the
    shingle arrays."""
    from tools.cc_soak import build_surface_mentions

    mentions = build_surface_mentions(spark, 60)
    plans = _recording_checkpoints(monkeypatch, type(mentions))
    # shuffle joins, the shape of a vocabulary too large to broadcast:
    # a broadcast join has no exchange on its streamed side (the
    # adaptive threshold defaults to this one)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        canonicalize_surfaces(spark, mentions, driver_max_surfaces=0).collect()
    finally:
        spark.conf.set(key, saved)

    python = [
        {
            (n.nodeName(), n.output().toString())
            for n in _walk(plan)
            if _PYTHON_NODE.search(n.nodeName())
        }
        for plan in plans
    ]
    lsh = [nodes for nodes in python if nodes]
    assert len(lsh) == 1, python  # only the LSH edges run Python
    assert len(lsh[0]) == 1, lsh[0]
    (plan,) = [p for p, nodes in zip(plans, python) if nodes]

    band_joins = [
        n
        for n in _walk(plan)
        if n.nodeName() in _JOINS and "band_key" in n.leftKeys().toString()
    ]
    assert band_joins
    exchanges = [
        n for j in band_joins for n in _walk(j) if "Exchange" in n.nodeName()
    ]
    assert exchanges
    for ex in exchanges:
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
