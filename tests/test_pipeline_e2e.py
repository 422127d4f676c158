"""End-to-end pipeline contracts (BASELINE.json):

1. clean_text is byte-identical per url to the in-process reference
   extractor (the F12 invariant);
2. the distributed triple set matches the in-process reference
   extractor at P/R >= 0.95 per rex/metrics/triple.py facets (exact
   match expected: same frozen kernels);
3. the fused text plane (one Arrow crossing) emits exactly the
   in-process kernel's sentences, mentions and scored triples;
4. planted facts are recovered at the canonical-graph level, and
   surface variants merge (a~b, b~c => one component);
5. distributed faceted PRF1 agrees with the in-process kernel;
6. with a StageStore the text plane is one stage made by one Arrow
   crossing, and the stored graph outputs equal the storeless ones;
7. the CasRel and USM slots add one Arrow crossing to the plane's,
   and every other per-row operator (WARC records, NER decodes, PDF
   text, the span-matrix slot, the multimodal decoders, the corpus
   synthesizers, SimHash, the tolerant map, the W5/W6 entry maps) is
   one Arrow crossing, whose integer inputs cross exactly.
"""

import pytest
from conftest import python_node_names, python_nodes

from rex_spark.kernels import kb
from rex_spark.kernels.extractor import document_triples
from rex_spark.kernels.metrics import measure_triple
from rex_spark.kernels.synth import make_pages
from rex_spark.kernels.textnorm import html_to_text
from rex_spark.operators.extraction import (
    extract_plane,
    plane_mentions,
    plane_sentences,
    plane_triples,
)
from rex_spark.operators.docfilters import DocFilters
from rex_spark.operators.metrics import triple_prf1_dict
from rex_spark.pipeline import build_pages_df, run_pipeline

N_PAGES = 120


@pytest.fixture(scope="module")
def corpus(spark):
    pages_df = build_pages_df(spark, N_PAGES, seed=42)
    result = run_pipeline(spark, pages_df, store=None, salt_partitions=4)
    raw_pages, planted = make_pages(N_PAGES, seed=42)
    return pages_df, result, raw_pages, planted


def test_clean_text_byte_identical(corpus):
    _, result, raw_pages, _ = corpus
    got = {r["url"]: r["clean_text"] for r in result["docs"].collect()}
    assert len(got) == N_PAGES
    for p in raw_pages:
        expected = html_to_text(p["html"])
        assert got[p["url"]].encode("utf-8") == expected.encode("utf-8"), p["url"]


def test_triples_match_reference_extractor(corpus):
    _, result, raw_pages, _ = corpus
    spark_triples = {
        (r["url"], r["subj"], r["pred"], r["obj"])
        for r in result["triple_set"].collect()
    }
    ref_triples = set()
    for p in raw_pages:
        clean = html_to_text(p["html"])
        for s, r, o in document_triples(clean, p["lang"]):
            ref_triples.add((p["url"], s, r, o))
    assert ref_triples, "reference extractor produced no triples"
    # P/R >= 0.95 required; identical kernels should give exact equality
    tp = len(spark_triples & ref_triples)
    precision = tp / len(spark_triples)
    recall = tp / len(ref_triples)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert spark_triples == ref_triples


def test_planted_facts_in_graph(corpus):
    _, result, _, planted = corpus
    entities = result["entities"].collect()
    edges = result["edges"].collect()
    surf2canon = {}
    for canon, (_t, surfs) in kb.ENTITIES.items():
        for s in surfs:
            key = " ".join(s.split()) if not kb._is_zh(s) else " ".join(s)
            surf2canon[key] = canon
    # entity_id -> KB canonical (via any member surface)
    ent2canon = {}
    for e in entities:
        canons = {surf2canon[s] for s in e["surfaces"] if s in surf2canon}
        assert len(canons) <= 1, f"over-merged entity: {e['surfaces']} -> {canons}"
        if canons:
            ent2canon[e["entity_id"]] = canons.pop()
    graph_facts = {
        (ent2canon[r["src"]], r["pred"], ent2canon[r["dst"]])
        for r in edges
        if r["src"] in ent2canon and r["dst"] in ent2canon
    }
    missing = {(s, r, o) for _u, s, r, o in planted} - graph_facts
    assert not missing, f"planted facts missing from graph: {missing}"


def test_surface_variants_merge_transitively(corpus):
    _, result, _, _ = corpus
    entities = {
        frozenset(e["surfaces"]): e for e in result["entities"].collect()
    }
    merged = {}
    for surfaces, e in entities.items():
        for s in surfaces:
            merged[s] = e["entity_id"]
    # acme variants must share one component wherever they appear
    acme_ids = {
        merged[s] for s in ("acme corporation", "acme corp", "the acme company")
        if s in merged
    }
    assert len(acme_ids) == 1
    # hub support: acme should be among the highest-mention entities
    top = max(result["entities"].collect(), key=lambda e: e["n_mentions"])
    assert "acme" in top["canonical"] or top["n_mentions"] > 0


def test_distributed_prf1_matches_kernel(spark, corpus):
    _, result, raw_pages, _ = corpus
    pred = result["triple_set"]
    # gold: reference extractor output as a DataFrame
    gold_rows = []
    ref_by_url = {}
    for p in raw_pages:
        clean = html_to_text(p["html"])
        ts = document_triples(clean, p["lang"])
        ref_by_url[p["url"]] = ts
        gold_rows += [(p["url"], s, r, o) for s, r, o in ts]
    gold = spark.createDataFrame(gold_rows, ["url", "subj", "pred", "obj"])

    dist = triple_prf1_dict(pred, gold)

    pred_by_url = {}
    for r in pred.collect():
        pred_by_url.setdefault(r["url"], []).append((r["subj"], r["pred"], r["obj"]))
    urls = sorted(set(pred_by_url) | set(ref_by_url))
    inproc = measure_triple(
        [pred_by_url.get(u, []) for u in urls],
        [ref_by_url.get(u, []) for u in urls],
    )
    for facet in ("triple", "subject", "object", "relation"):
        for k in ("tp", "fp", "fn"):
            assert dist[facet][k] == inproc[facet][k], (facet, k)
        assert dist[facet]["f1"] == pytest.approx(inproc[facet]["f1"])
    assert dist["triple"]["f1"] == 1.0


def test_distributed_synthesis_identical(spark):
    """Executor-side corpus generation is byte-identical to the
    driver-side loop (make_page depends only on (seed, i))."""
    from rex_spark.pipeline import build_pages_df_distributed

    a = build_pages_df(spark, 60, seed=42).orderBy("url").collect()
    b = (
        build_pages_df_distributed(spark, 60, seed=42, partitions=4)
        .orderBy("url")
        .collect()
    )
    assert a == b


def test_fused_plane_matches_inprocess_kernel(spark):
    """extract_plane (one Arrow crossing) must emit exactly the
    in-process kernel's sentences (extract_document), mentions
    (extract_mentions) and scored triples, row for row."""
    from collections import Counter

    import numpy as np

    from rex_spark.kernels.extractor import extract_document, extract_mentions

    def f32(x):
        return float(np.float32(x))  # the plane ships scores as float32

    n = 80
    plane = extract_plane(build_pages_df(spark, n, seed=42)).cache()
    want_s, want_m, want_t = Counter(), Counter(), Counter()
    for p in make_pages(n, seed=42)[0]:
        url, wts, lang = p["url"], p["warc_ts"], p["lang"]
        for sid, sent, toks, triples in extract_document(
            html_to_text(p["html"]), lang
        ):
            want_s[(url, wts, lang, sid, sent, tuple(toks))] += 1
            for surface, etype, start, end in extract_mentions(toks):
                want_m[(url, sid, etype, start, end, surface)] += 1
            for subj, pred, obj, hs, he, ts, te, score in triples:
                want_t[
                    (url, wts, sid, subj, pred, obj, hs, he, ts, te, f32(score))
                ] += 1

    got_s = Counter(
        (r["url"], r["warc_ts"], r["lang"], r["sent_id"], r["sent"],
         tuple(r["tokens"]))
        for r in plane_sentences(plane).collect()
    )
    got_m = Counter(tuple(r) for r in plane_mentions(plane).collect())
    got_t = Counter(
        tuple(r[:-1]) + (f32(r["score"]),)
        for r in plane_triples(plane).collect()
    )
    plane.unpersist()
    assert want_s and want_m and want_t  # nonvacuous
    assert got_s == want_s
    assert got_m == want_m
    assert got_t == want_t


def test_run_pipeline_casrel_extractor(spark):
    """extractor='casrel' swaps the M1 slot for the pointer decoder:
    the pipeline's triple set equals a direct casrel_extract, and the
    graph plane still materializes."""
    from rex_spark.operators.pointer_extraction import casrel_extract

    pages = build_pages_df(spark, 60, seed=42)
    r = run_pipeline(spark, pages, store=None, extractor="casrel")
    key = ["url", "subj", "pred", "obj"]
    got = {tuple(x) for x in r["triple_set"].select(*key).collect()}
    want = {
        tuple(x)
        for x in casrel_extract(plane_sentences(extract_plane(pages)))
        .select(*key)
        .distinct()
        .collect()
    }
    assert got == want and got
    assert r["entities"].count() > 0 and r["edges"].count() > 0

    with pytest.raises(ValueError):
        run_pipeline(spark, pages, store=None, extractor="nope")


def test_casrel_pointer_path_agrees_with_pair_scorer(spark):
    """The CasRel-style pointer decode (M3+W2) must agree with the
    pair-scoring extractor at P/R >= 0.95 on document triple sets
    (exact equality is impossible: pointer vectors cannot express
    nested mentions with distinct ends)."""
    from rex_spark.operators.pointer_extraction import casrel_extract

    plane = extract_plane(build_pages_df(spark, 120, seed=42))
    key = ["url", "subj", "pred", "obj"]
    a = plane_triples(plane).select(*key).distinct()
    b = casrel_extract(plane_sentences(plane)).select(*key).distinct()
    scores = triple_prf1_dict(b, a)["triple"]
    assert scores["p"] >= 0.95 and scores["r"] >= 0.95, scores


def test_run_pipeline_usm_extractor(spark):
    """extractor='usm' swaps the M1 slot for the M6 unified pointer-
    algebra decode: the pipeline's triple set equals the fused path on
    this corpus (measured exact; contract is >= 0.95), the scored rows
    carry the pair scorer's score, and the graph plane materializes."""
    pages = build_pages_df(spark, 60, seed=42)
    r = run_pipeline(spark, pages, store=None, extractor="usm")
    key = ["url", "subj", "pred", "obj"]
    got = {tuple(x) for x in r["triple_set"].select(*key).collect()}
    fused = run_pipeline(spark, pages, store=None)
    want = {tuple(x) for x in fused["triple_set"].select(*key).collect()}
    assert got == want and got
    assert r["entities"].count() > 0 and r["edges"].count() > 0
    scores = [x["score"] for x in r["triples"].select("score").collect()]
    assert scores and all(s > 0 for s in scores)


def test_distributed_synthesis_waves_union_to_full_corpus(spark):
    """build_pages_df_distributed(start=...) waves are disjoint and
    union byte-identically to the single full-range synthesis — the
    property the streaming soak's batch-parity check rests on."""
    from rex_spark.pipeline import build_pages_df_distributed

    full = build_pages_df_distributed(spark, 40, seed=42)
    w0 = build_pages_df_distributed(spark, 20, seed=42, start=0)
    w1 = build_pages_df_distributed(spark, 20, seed=42, start=20)
    union = w0.unionByName(w1)
    assert union.count() == full.count() == 40
    assert full.exceptAll(union).count() == 0
    assert union.exceptAll(full).count() == 0


def _graph_rows(result):
    def rows(df):
        # by column name: a stage partitioned by pred reads pred back last
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*sorted(df.columns)).collect()
        )

    return {k: rows(result[k]) for k in ("triple_set", "entities", "edges")}


@pytest.mark.parametrize(
    "filters",
    [None, DocFilters(min_quality=0.4)],
    ids=["plain", "doc_filters"],
)
def test_store_plane_is_one_crossing_and_matches_storeless(spark, tmp_path, filters):
    """With a StageStore the text plane is ONE stage made by ONE Arrow
    crossing (extract_plane); with doc filters the only other crossing
    is the html strip the JVM filters read.  The stored run's graph
    outputs equal the storeless run's."""
    from rex_spark.io.stages import StageStore

    computed = {}

    class RecordingStore(StageStore):
        def run(self, name, compute, partition_by=None, force=False):
            def record():
                computed[name] = compute()
                return computed[name]

            return super().run(name, record, partition_by=partition_by, force=force)

    pages = build_pages_df(spark, 60, seed=42)
    kw = dict(salt_partitions=4, doc_filters=filters)
    stored = run_pipeline(
        spark, pages, store=RecordingStore(spark, str(tmp_path / "stages")), **kw
    )
    storeless = run_pipeline(spark, pages, store=None, **kw)
    assert _graph_rows(stored) == _graph_rows(storeless)
    assert _graph_rows(stored)["triple_set"]

    fsfx = f"_fl{filters.digest()}" if filters else ""
    assert set(computed) == {
        f"plane{fsfx}", f"surfaces{fsfx}", f"entities{fsfx}", f"edges{fsfx}"
    }
    # the docs strip (clean_pages) feeds the doc filters: one more
    # crossing of the same kind, no MapInPandas
    nodes = python_node_names(computed[f"plane{fsfx}"])
    assert nodes == ["MapInArrow"] * (2 if filters else 1), nodes
    for name in (f"surfaces{fsfx}", f"entities{fsfx}", f"edges{fsfx}"):
        assert not python_nodes(computed[name]), name


@pytest.mark.parametrize("slot", ["casrel", "usm"])
def test_plugin_slot_plan_is_plane_plus_one_arrow_crossing(spark, slot):
    """A pointer-decode slot over the plane's sentences crosses into
    Python once more than the plane: 2 MapInArrow nodes, no MapInPandas."""
    from rex_spark.operators.pointer_extraction import casrel_extract
    from rex_spark.operators.usm import usm_extract_scored

    extract = {"casrel": casrel_extract, "usm": usm_extract_scored}[slot]
    out = extract(plane_sentences(extract_plane(build_pages_df(spark, 10, seed=42))))
    assert python_node_names(out) == ["MapInArrow", "MapInArrow"]
    assert out.collect()


def _warc_pages(spark, tmp_path):
    import datetime as dt

    from rex_spark.io.warc import encode_warc_gz, read_warc

    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    (tmp_path / "a.warc.gz").write_bytes(
        encode_warc_gz([(f"http://x/{i}", ts, b"<p>a b</p>") for i in range(3)])
    )
    return read_warc(spark, str(tmp_path))


def _ner_spans(via):
    def run(spark, tmp_path):
        from rex_spark.operators.ner import flag_spans

        docs = spark.createDataFrame(
            [(0, "Enormous elephants wandered through the savannah")],
            "doc_id long, text string",
        )
        return flag_spans(docs, via=via)

    return run


def _pdf_texts(spark, tmp_path):
    from rex_spark.operators.pdftext import extract_pdf_texts, make_pdf_payload

    pdfs = spark.createDataFrame(
        [(i, make_pdf_payload(i)) for i in range(3)], "doc_id long, payload binary"
    )
    return extract_pdf_texts(pdfs)


def _span_matrix(spark, tmp_path):
    from rex_spark.operators.span_matrix import global_pointer_extract

    docs = spark.createDataFrame(
        [(0, "Enormous elephants wandered through the savannah")],
        "doc_id long, text string",
    )
    return global_pointer_extract(docs, {"LONG": (7, 99), "MID": (5, 6)})


def _assets(op):
    def run(spark, tmp_path):
        from rex_spark.operators import multimodal

        # 7 assets: one of each fixture slot (png ... mjpeg-avi, mp4)
        return getattr(multimodal, op)(multimodal.make_decodable_assets(spark, 7))

    return run


def _synth(spark, tmp_path):
    from rex_spark.operators.multimodal import make_decodable_assets_distributed

    return make_decodable_assets_distributed(spark, 3, partitions=1)


def _pdf_corpus(spark, tmp_path):
    from rex_spark.operators.pdftext import make_pdf_corpus

    return make_pdf_corpus(spark, 3)


def _pages(spark, tmp_path):
    from rex_spark.pipeline import build_pages_df_distributed

    return build_pages_df_distributed(spark, 3, partitions=1)


def _docs(spark):
    return spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "The cat sat on the mat"), (2, "a b c")],
        "doc_id long, text string",
    )


def _simhash(spark, tmp_path):
    from rex_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs(spark))


def _tolerant(spark, tmp_path):
    from rex_spark.operators.safety import tolerant_map_in_pandas

    out, _skipped = tolerant_map_in_pandas(
        _docs(spark), lambda row: [(row[0], len(row[1]))],
        "doc_id long, n int", ["doc_id", "text"], ["doc_id", "n"],
    )
    return out


def _entry(name):
    def run(spark, tmp_path):
        import __spark_entry__ as entry

        _docs(spark).write.parquet(str(tmp_path / "documents.parquet"))
        return getattr(entry, name)(spark, str(tmp_path))

    return run


@pytest.mark.parametrize(
    "build",
    [
        _warc_pages, _ner_spans("udf"), _ner_spans("viterbi"), _pdf_texts,
        _span_matrix, _assets("decode_stats"), _assets("extract_features"),
        _assets("sample_frames"), _assets("frame_stats"), _synth, _pdf_corpus,
        _pages, _simhash, _tolerant, _entry("q_chunk_windows"),
        _entry("q_split_segments"),
    ],
    ids=[
        "read_warc", "decode_mentions_udf", "viterbi_decode", "extract_pdf_texts",
        "global_pointer_extract", "decode_stats", "extract_features",
        "sample_frames", "frame_stats", "make_decodable_assets_distributed",
        "make_pdf_corpus", "build_pages_df_distributed", "simhash_pairs",
        "tolerant_map_in_pandas", "q_chunk_windows", "q_split_segments",
    ],
)
def test_per_row_operator_is_one_arrow_crossing(spark, tmp_path, build):
    """Every per-row Python operator crosses through crossing.fan_out:
    one MapInArrow node, no MapInPandas, in the plan that ran (a
    self-join, as in simhash_pairs, reuses the map's exchange)."""
    out = build(spark, tmp_path)
    assert out.collect()
    assert python_node_names(out) == ["MapInArrow"]


def test_fan_out_crosses_nullable_long_exactly(spark):
    """A nullable integer input crosses as exact Python ints and None:
    through pandas, a null would turn the column into floats (2**62+1
    is not a float64)."""
    from pyspark.sql.types import BooleanType, LongType, StructField

    from rex_spark.operators.crossing import fan_out

    df = spark.createDataFrame([(0, 2**62 + 1), (1, None)], "k int, v long")
    out = fan_out(
        df, ("k",), ("v",), lambda v: [(v, v is None)],
        [StructField("v", LongType()), StructField("is_none", BooleanType())],
    )
    assert sorted(map(tuple, out.collect())) == [(0, 2**62 + 1, False), (1, None, True)]


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
def test_fan_out_takes_timestamp_key_as_is(spark, tz):
    """A timestamp key is taken as the Arrow timestamp it arrives as, with
    no conversion on either side.  Under the engine's UTC session its
    Arrow type is ``to_arrow_schema``'s, tz included; under another
    session time zone only the tz label differs, and the instants still
    come back unchanged."""
    import datetime as dt

    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StringType, StructField, StructType

    from rex_spark.operators.crossing import fan_out

    def arrow_types(it):
        for rb in it:
            yield pa.RecordBatch.from_arrays(
                [pa.array([str(rb.schema.field("warc_ts").type)])], names=["t"]
            )

    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        df = spark.createDataFrame(
            [("a", dt.datetime(2024, 3, 1, 12, 30, 5, 123456), "x"), ("b", None, "y")],
            "url string, warc_ts timestamp, s string",
        )
        seen = {r["t"] for r in df.mapInArrow(arrow_types, "t string").collect()}
        out = fan_out(
            df, ("url", "warc_ts"), ("s",), lambda s: [(s.upper(),)],
            [StructField("S", StringType())],
        )
        micros = F.unix_micros("warc_ts")
        assert sorted(map(tuple, out.select("url", micros, "S").collect())) == sorted(
            map(tuple, df.select("url", micros, F.upper("s")).collect())
        )
        plan = out._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
    assert seen == {f"timestamp[us, tz={tz}]"}
    if tz == "UTC":
        assert seen == {str(to_arrow_schema(df.schema).field("warc_ts").type)}
    assert out.schema == StructType(df.schema.fields[:2] + [StructField("S", StringType())])
    assert "unix_micros" not in plan and "timestamp_micros" not in plan
