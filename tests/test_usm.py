"""M6 USM slot: pointer-algebra decode semantics + agreement with the
fused extractor path (ref /root/reference/rex/models/usm.py:100-168)."""

import random
import time

from rex_spark.kernels.extractor import extract_mentions, extract_sentence
from rex_spark.kernels.synth import make_pages
from rex_spark.kernels.textnorm import html_to_text, sent_seg, tokenize
from rex_spark.operators.usm import (
    LABEL_MAP,
    build_label_map,
    usm_decode,
    usm_links,
    usm_sentence,
)
from test_drop_metrics import _FRAGS, LONG_SENT, _token_soups


def test_label_map_shape():
    lm = build_label_map()
    assert lm == LABEL_MAP
    types = [v["type"] for v in lm.values()]
    # all "m" labels precede all "p" labels; both present
    assert "m" in types and "p" in types
    assert types == sorted(types, key=lambda t: 0 if t == "m" else 1)
    assert len({v["string"] for v in lm.values()}) == len(lm)


def test_decode_algebra_two_disjoint_triples():
    """Two same-relation triples with disjoint spans decode exactly —
    the H2T span constraint kills every cross combination."""
    lm = {0: {"type": "m", "string": "PER"}, 5: {"type": "p", "string": "r"}}
    h2t = [(0, 0, 0), (2, 2, 0), (4, 4, 0), (6, 6, 0)]
    ttl = h2t + [(0, 4, 1), (2, 6, 1), (0, 4, 2), (2, 6, 2)]
    ltl = [
        (0, 0, 0), (0, 0, 1), (0, 2, 0), (0, 2, 1),   # PER on subj spans
        (0, 4, 0), (0, 4, 1), (0, 6, 0), (0, 6, 1),   # PER on obj spans
        (5, 0, 0), (5, 0, 1), (5, 2, 0), (5, 2, 1),   # r on subject spans
    ]
    tll = [(4, 5, 0), (4, 5, 1), (6, 5, 0), (6, 5, 1)]  # r on object spans
    ents, rels = usm_decode(ttl, ltl, tll, lm)
    assert rels == [((0, 0), "r", (4, 4)), ((2, 2), "r", (6, 6))]
    assert ents == [
        ((0, 0), "PER"), ((2, 2), "PER"), ((4, 4), "PER"), ((6, 6), "PER"),
    ]


def test_decode_ignores_unsupported_links():
    """Links not grounded in H2T spans (or labels outside the map)
    contribute nothing — the reference filters them the same way."""
    lm = {0: {"type": "m", "string": "PER"}}
    ttl = [(0, 1, 0), (0, 5, 1), (1, 6, 2)]  # h2h/t2t to nonexistent spans
    ltl = [(0, 0, 0), (0, 1, 1), (9, 0, 0)]  # label 9 not in map
    ents, rels = usm_decode(ttl, ltl, [], lm)
    assert rels == []
    assert ents == [((0, 1), "PER")]


def test_usm_sentence_matches_fused_on_known_text():
    toks = tokenize("alice johnson works for acme corp", lang="en")
    ents, rels = usm_sentence(toks, extract_mentions(toks))
    fused = {(t[0], t[1], t[2]) for t in extract_sentence(toks)}
    assert {(s, r, o) for s, r, o, *_ in rels} == fused == {
        ("alice johnson", "works_for", "acme corp")
    }
    assert ("alice johnson", "PER", 0, 2) in ents
    assert ("acme corp", "ORG", 4, 6) in ents


def test_usm_links_are_sorted_and_typed():
    toks = tokenize("alice johnson works for acme corp", lang="en")
    ttl, ltl, tll = usm_links(toks, extract_mentions(toks))
    assert ttl == sorted(ttl) and ltl == sorted(ltl) and tll == sorted(tll)
    assert {x[2] for x in ttl} <= {0, 1, 2}
    assert {x[2] for x in ltl} <= {0, 1} and {x[2] for x in tll} <= {0, 1}


def test_usm_agreement_with_fused_corpus():
    """P/R >= 0.95 vs the fused pair-scorer path over the synthetic
    corpus (the BASELINE.json-style agreement contract; measured exact
    on this corpus, pinned at the contract bound)."""
    pages, _ = make_pages(120, seed=42)
    fused, usm = set(), set()
    for p in pages:
        lang = "zh" if p["lang"] == "zh" else "en"
        for sent in sent_seg(html_to_text(p["html"]), lang=lang):
            toks = tokenize(sent, lang=lang)
            for t in extract_sentence(toks):
                fused.add((p["url"], t[0], t[1], t[2]))
            for s, r, o, *_ in usm_sentence(toks, extract_mentions(toks))[1]:
                usm.add((p["url"], s, r, o))
    assert fused, "corpus must produce triples"
    tp = len(fused & usm)
    p = tp / len(usm) if usm else 0.0
    r = tp / len(fused)
    assert p >= 0.95 and r >= 0.95, (p, r)


def _nested_loop_decode(ttl, ltl, tll, label_map):
    """The reference pointer algebra as nested-loop joins, line for line
    (usm.py:100-168): the oracle the hash-indexed usm_decode must
    equal."""
    h2t = [(x[0], x[1]) for x in ttl if x[2] == 0]
    h2t_set = set(h2t)
    hs = {x[0] for x in h2t}
    ts = {x[1] for x in h2t}
    h2h = [(x[0], x[1]) for x in ttl if x[2] == 1 and x[0] in hs and x[1] in hs]
    t2t = [(x[0], x[1]) for x in ttl if x[2] == 2 and x[0] in ts and x[1] in ts]
    pairs = []
    for hh, th in h2h:
        for ht, tt in t2t:
            if (hh, ht) in h2t_set and (th, tt) in h2t_set:
                pairs.append(((hh, ht), (th, tt)))
    l2h = [(x[0], x[1]) for x in ltl
           if x[2] == 0 and x[0] in label_map and x[1] in hs]
    l2t = [(x[0], x[1]) for x in ltl
           if x[2] == 1 and x[0] in label_map and x[1] in ts]
    l2ht = []
    for l1, h in l2h:
        for l2, t in l2t:
            if l1 == l2 and (h, t) in h2t_set:
                l2ht.append(
                    ((label_map[l1]["string"], label_map[l1]["type"], l1), (h, t))
                )
    ls = {lb[0][2] for lb in l2ht}
    h2l = [(x[0], x[1]) for x in tll if x[2] == 0 and x[0] in hs and x[1] in ls]
    t2l = [(x[0], x[1]) for x in tll if x[2] == 1 and x[0] in ts and x[1] in ls]
    ht2l = []
    for h, l1 in h2l:
        for t, l2 in t2l:
            if l1 == l2 and (h, t) in h2t_set and label_map[l1]["type"] == "p":
                ht2l.append(((h, t), (label_map[l1]["string"], "p", l1)))
    ents = sorted({(ent[1], ent[0][0]) for ent in l2ht if ent[0][1] == "m"})
    relations = set()
    for (hh, ht), (th, tt) in pairs:
        for l1, (h1, t1) in l2ht:
            if l1[1] == "p":
                for (h2, t2), l2 in ht2l:
                    if (l2[1] == "p" and hh == h1 and ht == t1 and th == h2
                            and tt == t2 and l1[2] == l2[2]):
                        relations.add(((hh, ht), l1[0], (th, tt)))
    return ents, sorted(relations)


def _random_links(rng, n_pos, labels):
    """A random (ttl, ltl, tll) link set over ``n_pos`` positions whose
    labels include ids outside the label map, with dense same-label
    links so label cross-talk occurs."""
    def links(n, a, b, kinds):
        return sorted({(rng.choice(a), rng.choice(b), rng.choice(kinds))
                       for _ in range(n)})

    pos = range(n_pos)
    return (
        links(rng.randint(0, 40), pos, pos, (0, 0, 1, 2)),
        links(rng.randint(0, 40), labels, pos, (0, 1)),
        links(rng.randint(0, 30), pos, labels, (0, 1)),
    )


def test_hash_join_decode_equals_nested_loop_decode_property():
    """Property pin: the hash-indexed usm_decode equals the reference's
    nested-loop decode on random link sets (labels outside the map
    included), on the encoder's links for random token soups, and on
    the 60-mention sentence — which decodes to the fused plane's 3
    triples."""
    lm = {0: {"type": "m", "string": "PER"}, 1: {"type": "m", "string": "ORG"},
          2: {"type": "p", "string": "r"}, 3: {"type": "p", "string": "s"}}
    rng = random.Random(1212)
    for _ in range(1500):
        ttl, ltl, tll = _random_links(rng, rng.randint(1, 8), (0, 1, 2, 3, 7))
        assert usm_decode(ttl, ltl, tll, lm) == _nested_loop_decode(
            ttl, ltl, tll, lm
        ), (ttl, ltl, tll)
    for toks in _token_soups(1212, 300):
        links = usm_links(toks, extract_mentions(toks))
        assert usm_decode(*links, LABEL_MAP) == _nested_loop_decode(
            *links, LABEL_MAP
        ), toks
    long_toks = tokenize(LONG_SENT, lang="en")
    links = usm_links(long_toks, extract_mentions(long_toks))
    ents, rels = usm_decode(*links, LABEL_MAP)
    assert (ents, rels) == _nested_loop_decode(*links, LABEL_MAP)
    rels = usm_sentence(long_toks, extract_mentions(long_toks))[1]
    assert {(s, r, o) for s, r, o, *_ in rels} == {
        ("alice johnson", "works_for", "globex"),
        ("bob smith", "founded", "acme corp"),
        ("grace hopper", "boss_of", "initech"),
    }


def test_usm_600_mention_sentence_decodes_fast():
    """No pair cap: a 600-mention sentence encodes and decodes in well
    under a second (the nested-loop decode took seconds there)."""
    toks = tokenize(" and ".join(_FRAGS * 100), lang="en")
    t0 = time.perf_counter()
    ents, rels = usm_sentence(toks, extract_mentions(toks))
    elapsed = time.perf_counter() - t0
    assert len(ents) == 600 and len(rels) > 0
    assert elapsed < 0.5, elapsed
