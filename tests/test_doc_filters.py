"""Documents-stage corpus filters (operators/docfilters.py) wired into
run_pipeline:

1. the shuffle-free repetition_exprs formulation equals the
   explode+groupBy repetition_stats on the documents table (and the
   truncation cap is never reached there — lockstep-cap pattern);
2. pipeline with filters keeps exactly the docs an independent
   doc_stats/lang_id recomputation says it should, and the filtered
   triple set is the unfiltered set restricted to kept urls;
3. drop counters (one Observation, P9 parity) match the recomputation,
   and the strict setting keeps a subset of the lenient one;
4. with a StageStore: drop counts land in _metrics, a rerun resumes
   bit-identically without recomputing (doc_filter_metrics is None on
   resume), and a different filter setting on the SAME root writes its
   own digest-suffixed stages instead of resuming across settings;
5. scrub_pii replaces planted PII with typed placeholders before
   segmentation and counts it over kept docs.
"""

import os

import pytest
from pyspark.sql import functions as F

from rex_spark.operators.docfilters import DocFilters, apply_doc_filters
from rex_spark.operators.textstats import (
    doc_stats,
    lang_id,
    repetition_exprs,
    repetition_stats,
)
from rex_spark.pipeline import build_pages_df, run_pipeline

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

N_PAGES = 120


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def test_repetition_exprs_match_groupby_formulation(documents):
    cap = 4096
    # the corpus never reaches the truncation cap (same pattern as the
    # candidate-pair cap test): the parity below is therefore exact
    max_toks = documents.select(
        F.max(F.size(F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")))
    ).first()[0]
    assert max_toks < cap

    e = repetition_exprs(F.col("text"), max_tokens=cap)
    rowwise = {
        r["doc_id"]: (r["n_tokens"], r["top_token_frac"], r["rep_2gram_frac"])
        for r in documents.select(
            "doc_id",
            e["n_tokens"].alias("n_tokens"),
            e["top_token_frac"].alias("top_token_frac"),
            e["rep_2gram_frac"].alias("rep_2gram_frac"),
        ).collect()
    }
    grouped = {
        r["doc_id"]: (r["n_tokens"], r["top_token_frac"], r["rep_2gram_frac"])
        for r in repetition_stats(documents).collect()
    }
    assert rowwise == grouped


@pytest.fixture(scope="module")
def unfiltered(spark):
    pages = build_pages_df(spark, N_PAGES, seed=42)
    result = run_pipeline(spark, pages, store=None, salt_partitions=4)
    docs = result["docs"].cache()
    triples = {
        tuple(r) for r in result["triple_set"].select("url", "subj", "pred", "obj").collect()
    }
    return pages, docs, triples


def _expected_kept(docs, filters: DocFilters):
    """Independent recomputation through the standalone query surfaces
    (doc_stats / lang_id), NOT through docfilters code."""
    as_documents = docs.select(
        F.col("url").alias("doc_id"), F.coalesce("clean_text", F.lit("")).alias("text")
    )
    keep = {r["doc_id"] for r in as_documents.collect()}
    if filters.min_quality is not None:
        q = {r["doc_id"]: r["quality_score"] for r in doc_stats(as_documents).collect()}
        keep &= {d for d in keep if q[d] >= filters.min_quality}
    if filters.langs is not None:
        pl = {r["doc_id"]: r["pred_lang"] for r in lang_id(as_documents.withColumn("lang", F.lit(None).cast("string"))).collect()}
        keep &= {d for d in keep if pl[d] in filters.langs}
    if filters.max_top_token_frac is not None or filters.max_rep_2gram_frac is not None:
        rep = {
            r["doc_id"]: (r["top_token_frac"], r["rep_2gram_frac"])
            for r in repetition_stats(as_documents).collect()
        }
        if filters.max_top_token_frac is not None:
            keep &= {d for d in keep if rep[d][0] <= filters.max_top_token_frac}
        if filters.max_rep_2gram_frac is not None:
            keep &= {d for d in keep if rep[d][1] <= filters.max_rep_2gram_frac}
    return keep


LENIENT = DocFilters(min_quality=0.4)
STRICT = DocFilters(min_quality=0.4, langs=("en",), max_top_token_frac=0.2)


@pytest.mark.parametrize("filters", [LENIENT, STRICT], ids=["lenient", "strict"])
def test_pipeline_filters_keep_expected_docs(spark, unfiltered, filters):
    pages, docs_all, triples_all = unfiltered
    expected = _expected_kept(docs_all, filters)
    n_all = docs_all.count()
    # the filter must actually bite and actually keep something, or the
    # test is vacuous
    assert 0 < len(expected) < n_all

    result = run_pipeline(
        spark, pages, store=None, salt_partitions=4, doc_filters=filters
    )
    kept_urls = {r["url"] for r in result["docs"].select("url").collect()}
    got_triples = {
        tuple(r)
        for r in result["triple_set"].select("url", "subj", "pred", "obj").collect()
    }
    assert kept_urls == expected
    # per-doc independence: filtering docs == restricting the triple set
    assert got_triples == {t for t in triples_all if t[0] in expected}

    obs = result["doc_filter_metrics"]
    assert obs is not None
    m = obs.get
    assert m["input_docs"] == n_all
    assert m["kept_docs"] == len(expected)
    if filters is LENIENT:
        assert m["drop_quality"] == n_all - len(expected)
        assert "drop_lang" not in m


def test_strict_keeps_subset_of_lenient(unfiltered):
    _, docs_all, _ = unfiltered
    assert _expected_kept(docs_all, STRICT) <= _expected_kept(docs_all, LENIENT)


def test_store_metrics_resume_and_digest_isolation(spark, unfiltered, tmp_path):
    from rex_spark.io.stages import StageStore

    pages, docs_all, _ = unfiltered
    root = str(tmp_path / "stages")
    store = StageStore(spark, root)

    r1 = run_pipeline(spark, pages, store=store, salt_partitions=4, doc_filters=LENIENT)
    edges1 = sorted(tuple(x) for x in r1["edges"].select("src", "pred", "dst").collect())
    fsfx = f"_fl{LENIENT.digest()}"
    assert store.is_committed(f"plane{fsfx}")
    assert not os.path.exists(os.path.join(root, "plane"))  # no unsuffixed stage
    metrics = {
        r["metric"]: r["value"] for r in store.metrics(f"doc_filters{fsfx}").collect()
    }
    expected = _expected_kept(docs_all, LENIENT)
    assert metrics["kept_docs"] == len(expected)
    assert metrics["input_docs"] == docs_all.count()
    assert metrics["drop_quality"] == metrics["input_docs"] - metrics["kept_docs"]

    # resume: nothing recomputed (no live Observation), outputs identical
    r2 = run_pipeline(spark, pages, store=store, salt_partitions=4, doc_filters=LENIENT)
    assert r2["doc_filter_metrics"] is None
    edges2 = sorted(tuple(x) for x in r2["edges"].select("src", "pred", "dst").collect())
    assert edges1 == edges2

    # a different setting on the same root gets its own stages
    r3 = run_pipeline(spark, pages, store=store, salt_partitions=4, doc_filters=STRICT)
    assert STRICT.digest() != LENIENT.digest()
    assert store.is_committed(f"plane_fl{STRICT.digest()}")
    kept3 = {r["url"] for r in r3["docs"].select("url").collect()}
    assert kept3 == _expected_kept(docs_all, STRICT)


def test_scrub_pii_replaces_and_counts(spark):
    from pyspark.sql import Observation

    from rex_spark.operators.textplane import PAGES_SCHEMA

    import datetime

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (
            "https://ex.com/a",
            ts,
            b"<html><body><p>Mail bob@example.com or visit https://x.example.org/p now.</p></body></html>",
            None,
            "en",
        ),
        ("https://ex.com/b", ts, b"<html><body><p>No pii here at all.</p></body></html>", None, "en"),
    ]
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    from rex_spark.operators.textplane import clean_pages

    obs = Observation()
    kept = apply_doc_filters(
        clean_pages(pages), DocFilters(scrub_pii=True), observation=obs
    )
    texts = {r["url"]: r["clean_text"] for r in kept.collect()}
    assert "<EMAIL>" in texts["https://ex.com/a"]
    assert "<URL>" in texts["https://ex.com/a"]
    assert "bob@example.com" not in texts["https://ex.com/a"]
    assert texts["https://ex.com/b"] == "No pii here at all."
    m = obs.get
    assert m["input_docs"] == 2 and m["kept_docs"] == 2
    assert m["pii_emails"] == 1 and m["pii_urls"] == 1 and m["pii_phones"] == 0
