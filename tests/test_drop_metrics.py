"""P9 drop accounting: the pair cap and mention validity filter must
COUNT what they drop (rex/data/transforms/sent_re.py:44-58 logs these
per transform) and the counts must land via StageStore.write_metrics."""

import os

from pyspark.sql import Observation

from rex_spark.io.stages import StageStore
from rex_spark.operators.extraction import candidate_pairs, filter_valid_mentions


def _quadratic_extract_sentence(tokens):
    """The quadratic all-pairs composition: every ordered (head, tail)
    mention pair with distinct spans, scored and thresholded, keep-best
    on the triple key with ties keeping the first pair — the oracle
    the gap-banded extract_sentence must equal."""
    from rex_spark.kernels import kb
    from rex_spark.kernels.extractor import extract_mentions, score_pair

    mentions = extract_mentions(tokens)
    best = {}
    for head in mentions:
        for tail in mentions:
            if (head[2], head[3]) == (tail[2], tail[3]):
                continue
            scored = score_pair(tokens, head, tail)
            if scored is None or scored[1] < kb.SCORE_THRESHOLD:
                continue
            rel, score = scored
            key = (head[0], rel, tail[0])
            if key not in best or score > best[key][7]:
                best[key] = (head[0], rel, tail[0], head[2], head[3],
                             tail[2], tail[3], score)
    return sorted(best.values())


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
    fused plane scores every sentence on the gap-banded pair scan, so
    their triples equal the quadratic composition's.  The composable
    candidate_pairs surface (J1: the FULL pair set, genuinely
    quadratic) retains its documented drop cap."""
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
    # the flagged sentence's triples equal the quadratic composition's
    from rex_spark.kernels.textnorm import tokenize

    gold = _quadratic_extract_sentence(tokenize(bomb.strip(), lang="en"))
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


_FRAGS = [
    "alice johnson works for globex",
    "bob smith founded acme corp",
    "grace hopper leads initech",
]
LONG_SENT = " and ".join(_FRAGS * 10)  # 60 mentions, 3600 pairs


def _long_sentence_pages(spark):
    """One page whose single sentence is LONG_SENT."""
    import datetime

    from rex_spark.operators.textplane import PAGES_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [("u1", ts, f"<html><body>{LONG_SENT}</body></html>".encode(), None, "en")],
        PAGES_SCHEMA,
    )


def test_overcap_document_recovers_uncapped_triples(spark):
    """VERDICT r3 #6: a planted document whose single long sentence
    blows the pair cap (3,600 pairs > 400) yields EXACTLY the quadratic
    composition's triple set through the text plane — long documents
    no longer silently truncate pair coverage."""
    from pyspark.sql import functions as F

    from rex_spark.kernels.textnorm import tokenize
    from rex_spark.operators.extraction import extract_plane, plane_triples

    toks = tokenize(LONG_SENT, lang="en")
    gold = _quadratic_extract_sentence(toks)
    assert len({(t[0], t[1], t[2]) for t in gold}) >= 3  # nonvacuous

    pages = _long_sentence_pages(spark)
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


def test_overcap_sentence_casrel_and_usm_exact(spark):
    """The over-cap sentence through the plugin slots: neither CasRel's
    pointer decode nor USM's pointer algebra has a pair cap, so
    run_pipeline(extractor="casrel"|"usm") gives the fused plane's
    triple set, and USM's entity spans come from the same pass."""
    from pyspark.sql import functions as F

    from rex_spark.operators.extraction import (
        document_triple_set,
        extract_plane,
        plane_sentences,
        plane_triples,
    )
    from rex_spark.operators.usm import usm_entities
    from rex_spark.pipeline import run_pipeline

    pages = _long_sentence_pages(spark)
    plane = extract_plane(pages).cache()
    assert [r["t_capped"] for r in plane.collect()] == [True]
    fused = {tuple(r) for r in document_triple_set(plane_triples(plane)).collect()}
    assert fused == {
        ("u1", "alice johnson", "works_for", "globex"),
        ("u1", "bob smith", "founded", "acme corp"),
        ("u1", "grace hopper", "boss_of", "initech"),
    }
    key = ["url", "subj", "pred", "obj"]
    for slot in ("casrel", "usm"):
        r = run_pipeline(spark, pages, store=None, extractor=slot)
        got = {tuple(x) for x in r["triple_set"].select(*key).collect()}
        assert got == fused, slot

    ents = usm_entities(plane_sentences(plane.where(F.col("t_capped"))))
    assert ents.count() == 60
    plane.unpersist()


def _vector_pointer_decode(tokens):
    """The pointer decode over full-length 0/1 pointer vectors, scoring
    every (subject, object) mention pair: the quadratic reference
    pointer_decode_sentence must equal."""
    from rex_spark.kernels.extractor import extract_mentions, score_pair
    from rex_spark.kernels.spans import find_closest_span_pairs

    ments = extract_mentions(tokens)
    if len(ments) < 2:
        return []
    n = len(tokens)
    subj_heads = [0] * n
    subj_tails = [0] * n
    for _surf, _et, s, e in ments:
        subj_heads[s] = 1
        subj_tails[e - 1] = 1
    by_span = {(m[2], m[3] - 1): m for m in ments}
    out, seen = [], set()
    for hs, he in find_closest_span_pairs(subj_heads, subj_tails):
        subj = by_span.get((hs, he))
        if subj is None:
            continue
        rel_vecs, rel_score = {}, {}
        for obj in ments:
            if obj[2] == subj[2] and obj[3] == subj[3]:
                continue
            scored = score_pair(tokens, subj, obj)
            if scored is None:
                continue
            rel, sc = scored
            h, t = rel_vecs.setdefault(rel, ([0] * n, [0] * n))
            h[obj[2]] = 1
            t[obj[3] - 1] = 1
            rel_score[(rel, obj[2], obj[3] - 1)] = sc
        for rel, (h, t) in rel_vecs.items():
            for os_, oe in find_closest_span_pairs(h, t):
                obj = by_span.get((os_, oe))
                key = (subj[2], subj[3], rel, os_, oe)
                if obj is None or key in seen:
                    continue
                seen.add(key)
                out.append((subj[0], rel, obj[0], subj[2], subj[3], obj[2],
                            obj[3], rel_score.get((rel, os_, oe), 0.0)))
    return out


def _token_soups(seed, cases, max_parts=40):
    """Random gazetteer/filler token soups (nested surfaces, pattern
    gaps and fillers mixed)."""
    import random

    from rex_spark.kernels import kb

    surfaces = sorted(
        {t for b in kb.gazetteer().values() for (t, _et, _c) in b}
    )
    connectors = [
        ("works", "for"), ("founded",), ("leads",), ("is", "employed", "by"),
        ("and",), ("the",), ("meanwhile",), (",",), ("visited",),
    ]
    rng = random.Random(seed)
    for _case in range(cases):
        toks: list[str] = []
        for _ in range(rng.randint(1, max_parts)):
            if rng.random() < 0.6:
                toks.extend(rng.choice(surfaces))
            else:
                toks.extend(rng.choice(connectors))
        yield toks


def test_pointer_decode_equals_vector_decode_property():
    """Property pin: the band-scan, position-list pointer decode equals
    the full 0/1-vector decode over every mention pair, on random token
    soups and on the 60-mention sentence (whose 30 rows are the fused
    plane's 3 triples)."""
    from rex_spark.kernels.extractor import extract_mentions
    from rex_spark.kernels.textnorm import tokenize
    from rex_spark.operators.pointer_extraction import pointer_decode_sentence

    def decode(toks):
        return pointer_decode_sentence(toks, extract_mentions(toks))

    for toks in _token_soups(2024, 300):
        assert decode(toks) == _vector_pointer_decode(toks), toks
    long_toks = tokenize(LONG_SENT, lang="en")
    rows = decode(long_toks)
    assert rows == _vector_pointer_decode(long_toks)
    assert len(rows) == 30
    assert {r[:3] for r in rows} == {
        ("alice johnson", "works_for", "globex"),
        ("bob smith", "founded", "acme corp"),
        ("grace hopper", "boss_of", "initech"),
    }


def test_banded_equals_quadratic_property():
    """Property pin: extract_sentence (the gap-banded pair scan) equals
    the quadratic all-pairs composition on randomized gazetteer/filler
    token soup and on the 60-mention sentence — the exactness argument
    (score_pair's gap bound) checked mechanically."""
    from rex_spark.kernels.extractor import extract_sentence
    from rex_spark.kernels.textnorm import tokenize

    for toks in _token_soups(1227, 60):
        assert extract_sentence(toks) == _quadratic_extract_sentence(toks), toks
    long_toks = tokenize(LONG_SENT, lang="en")
    assert extract_sentence(long_toks) == _quadratic_extract_sentence(long_toks)


def test_corpus_never_hits_pair_cap():
    """The deterministic corpus stays within the 400-pair cap in every
    sentence, so no sentence of it is flagged ``t_capped`` and the
    candidate_pairs surface drops none of it.  No extractor depends on
    this any more (every slot decodes every sentence exactly); it keeps
    the corpus free of pathological sentences, which fail loudly here
    if corpus synthesis ever grows one."""
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
