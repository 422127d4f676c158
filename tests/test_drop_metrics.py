"""P9 drop accounting: the pair cap and mention validity filter must
COUNT what they drop (rex/data/transforms/sent_re.py:44-58 logs these
per transform) and the counts must land via StageStore.write_metrics."""

import os

from pyspark.sql import Observation

from rex_spark.io.stages import StageStore
from rex_spark.operators.extraction import candidate_pairs, filter_valid_mentions


def _mentions(spark):
    rows = [
        # sentence A: 3 mentions -> 9 > cap(4): dropped whole (6 pairs)
        ("u1", 0, "PER", 0, 2, "a b"),
        ("u1", 0, "ORG", 3, 4, "c"),
        ("u1", 0, "LOC", 5, 6, "d"),
        # sentence B: 2 mentions -> 4 <= cap: kept (2 ordered pairs)
        ("u1", 1, "PER", 0, 1, "e"),
        ("u1", 1, "ORG", 2, 3, "f"),
        # sentence C: 1 mention, no pairs but not "dropped"
        ("u2", 0, "PER", 0, 1, "g"),
    ]
    return spark.createDataFrame(
        rows, "url string, sent_id int, ent_type string, start int, end int, surface string"
    )


def test_pair_cap_drop_counts_observed(spark):
    obs = Observation("pair_drops")
    pairs = candidate_pairs(_mentions(spark), max_pairs_per_sentence=4,
                            observation=obs)
    assert pairs.count() == 2  # only sentence B's ordered pairs
    got = obs.get
    assert got["dropped_sentences"] == 1
    assert got["dropped_pairs"] == 6
    assert got["input_sentences"] == 3


def test_valid_mention_drop_counts_observed(spark):
    obs = Observation("mention_drops")
    kept, dropped = filter_valid_mentions(_mentions(spark), max_seq_len=4,
                                          observation=obs)
    assert kept.count() == 5
    got = obs.get
    assert got["dropped_mentions"] == 1  # end 6 exceeds max_seq_len 4
    assert got["input_mentions"] == 6
    assert dropped.count() == 1


def test_metrics_land_in_store(spark, tmp_path):
    store = StageStore(spark, os.path.join(tmp_path, "stages"))
    obs = Observation("pair_drops2")
    pairs = candidate_pairs(_mentions(spark), max_pairs_per_sentence=4,
                            observation=obs)
    pairs.count()
    store.write_metrics("pairs", obs.get)
    back = {r["metric"]: r["value"] for r in store.metrics("pairs").collect()}
    assert back == {
        "dropped_sentences": 1, "dropped_pairs": 6, "input_sentences": 3,
    }
    assert {r["stage"] for r in store.metrics("pairs").collect()} == {"pairs"}


def test_fused_plane_caps_pathological_sentences_in_lockstep(spark):
    """Over-cap sentences are flagged (t_capped) but NOT dropped: the
    fused plane routes them to the exact gap-banded path, so triples
    equal the uncapped kernel's.  The composable candidate_pairs
    surface (J1: the FULL pair set, genuinely quadratic) retains its
    documented drop cap."""
    import datetime

    from pyspark.sql import functions as F

    from rex_spark.operators.extraction import (
        candidate_pairs,
        extract_plane,
        plane_mentions,
    )
    from rex_spark.operators.textplane import PAGES_SCHEMA

    bomb = "acme corp " * 21  # 21 mentions -> 441 pairs > 400 cap
    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [
            ("u1", ts, f"<html><body>{bomb}</body></html>".encode(), None, "en"),
            ("u2", ts, b"<html><body>alice johnson works for globex</body></html>",
             None, "en"),
        ],
        PAGES_SCHEMA,
    )
    plane = extract_plane(pages).cache()
    capped = plane.where(F.col("t_capped")).collect()
    assert [r["url"] for r in capped] == ["u1"]
    assert len(capped[0]["m_surface"]) == 21  # mentions kept (linear work)
    # the flagged sentence's triples equal the uncapped kernel's
    from rex_spark.kernels.extractor import extract_sentence
    from rex_spark.kernels.textnorm import tokenize

    gold = extract_sentence(tokenize(bomb.strip(), lang="en"), max_pairs=None)
    assert list(zip(capped[0]["t_subj"], capped[0]["t_pred"],
                    capped[0]["t_obj"])) == [(t[0], t[1], t[2]) for t in gold]
    # the healthy page still extracts
    assert plane.where(~F.col("t_capped") & (F.size("t_subj") > 0)).count() == 1
    # mention fan-out unaffected by the cap
    assert plane_mentions(plane).where(F.col("url") == "u1").count() == 21

    # the pair-level composable surface still drops the same sentence
    pairs = candidate_pairs(plane_mentions(plane), max_pairs_per_sentence=400)
    assert pairs.where(F.col("url") == "u1").count() == 0
    assert pairs.where(F.col("url") == "u2").count() > 0
    plane.unpersist()

    # cap off -> reference-exact (sentence scored, quadratic and all)
    uncapped = extract_plane(pages, max_pairs_per_sentence=None)
    row = uncapped.where(F.col("url") == "u1").collect()[0]
    assert row["t_capped"] is False


def test_overcap_document_recovers_uncapped_triples(spark):
    """VERDICT r3 #6: a planted document whose single long sentence
    blows the pair cap (3,600 pairs > 400) yields EXACTLY the uncapped
    in-process kernel's triple set through the text plane — long
    documents no longer silently truncate pair coverage."""
    import datetime

    from pyspark.sql import functions as F

    from rex_spark.kernels.extractor import extract_sentence
    from rex_spark.kernels.textnorm import tokenize
    from rex_spark.operators.extraction import extract_plane, plane_triples
    from rex_spark.operators.textplane import PAGES_SCHEMA

    frags = [
        "alice johnson works for globex",
        "bob smith founded acme corp",
        "grace hopper leads initech",
    ]
    long_sent = " and ".join(frags * 10)  # 60 mentions, 3600 pairs
    toks = tokenize(long_sent, lang="en")
    gold = extract_sentence(toks, max_pairs=None)
    assert len({(t[0], t[1], t[2]) for t in gold}) >= 3  # nonvacuous

    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [("u1", ts, f"<html><body>{long_sent}</body></html>".encode(), None, "en")],
        PAGES_SCHEMA,
    )
    import numpy as np

    def f32(x):
        return float(np.float32(x))  # the plane ships scores as float32

    want = {
        (t[0], t[1], t[2], t[3], t[4], t[5], t[6], f32(t[7])) for t in gold
    }

    def got(df):
        return {
            (r["subj"], r["pred"], r["obj"], r["h_start"], r["h_end"],
             r["t_start"], r["t_end"], f32(r["score"]))
            for r in df.collect()
        }

    plane = extract_plane(pages).cache()
    assert plane.where(F.col("t_capped")).count() == 1  # flagged, not dropped
    got_fused = got(plane_triples(plane))
    plane.unpersist()
    assert got_fused == want


def test_banded_equals_quadratic_property():
    """Property pin: the gap-banded loop equals the uncapped quadratic
    loop on randomized gazetteer/filler token soup — the exactness
    argument (score_pair's gap bound) checked mechanically."""
    import random

    from rex_spark.kernels import kb
    from rex_spark.kernels.extractor import (
        extract_sentence,
        extract_sentence_banded,
    )

    surfaces = sorted(
        {t for b in kb.gazetteer().values() for (t, _et, _c) in b}
    )
    connectors = [
        ("works", "for"), ("founded",), ("leads",), ("is", "employed", "by"),
        ("and",), ("the",), ("meanwhile",), (",",), ("visited",),
    ]
    rng = random.Random(1227)
    for _case in range(60):
        toks: list[str] = []
        for _ in range(rng.randint(1, 40)):
            if rng.random() < 0.6:
                toks.extend(rng.choice(surfaces))
            else:
                toks.extend(rng.choice(connectors))
        assert extract_sentence_banded(toks) == extract_sentence(
            toks, max_pairs=None
        ), toks


def test_corpus_never_hits_pair_cap():
    """The deterministic corpus stays strictly under the 400-pair cap
    in every sentence — the precondition that keeps the capped
    production paths (and the equally-capped oracle gold) identical to
    the uncapped reference composition.  If corpus synthesis ever
    grows a pathological sentence, this fails loudly instead of the
    driver's kg_* rows going red."""
    from rex_spark.kernels.extractor import extract_mentions
    from rex_spark.kernels.synth import make_pages
    from rex_spark.kernels.textnorm import html_to_text, sent_seg, tokenize

    pages, _ = make_pages(200, seed=42)
    worst = 0
    for p in pages:
        lang = "zh" if p["lang"] == "zh" else "en"
        for sent in sent_seg(html_to_text(p["html"]), lang=lang):
            m = len(extract_mentions(tokenize(sent, lang=lang)))
            worst = max(worst, m * m)
    assert 0 < worst <= 400, worst
