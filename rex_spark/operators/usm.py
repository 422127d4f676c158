"""USM-style unified schema-prompted extraction (SURVEY §2.10 M6).

Re-expresses the decode path of the reference's USM joint model
(/root/reference/rex/models/usm.py:8-168): one schema-prompted pass
emits three pointer-link families and a pure set-algebra decode
recovers BOTH entities and relations —

- ttl (token-token):  H2T (0) span links, H2H (1) head-head links,
  T2T (2) tail-tail links between the subject and object spans,
- ltl (label-token):  L2H (0) / L2T (1) links from a schema label
  (entity type, "m", or relation, "p") to span starts/ends,
- tll (token-label):  H2L (0) / T2L (1) links from the OBJECT span
  back to the relation label.

The link scores here come from the same deterministic stand-in that
fills every model slot in this repo (gazetteer mentions + pattern pair
scorer, kernels/extractor.py); a trained USM checkpoint would produce
them from three GlobalPointer heads with tri-masks none/tril/triu
(usm.py:20-47).  The decode (``usm_decode``) mirrors usm.py:100-168
exactly, including its join semantics: pairs form from H2H x T2T
constrained to H2T spans, entities from L2H x L2T with "m" labels,
relations from the three-way label-consistent join — so label
cross-talk between same-relation triples in one sentence reproduces
the reference's behavior rather than "fixing" it.

Scale shape: each slot is one ``decode_sentences`` Arrow crossing over
the plane's sentence rows — narrow, no shuffle; downstream dedup/graph
ops own the shuffles, exactly like the fused plane and the CasRel
extractor.  Unlike CasRel, USM keeps the 400-pair sentence cap (see
``usm_extract_scored``).
Agreement with the fused pair-scorer path is pinned at P/R >= 0.95 by
tests (the pointer algebra can merge/cross spans the pair scorer keeps
distinct, a known property of pointer unification).
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StringType, StructField

from ..kernels import kb
from ..kernels.extractor import extract_mentions, score_pair
from .extraction import TRIPLES_SCHEMA, decode_sentences

Link = Tuple[int, int, int]  # (i, j, link_type)


def build_label_map() -> Dict[int, dict]:
    """Deterministic schema prompt: entity types ("m") then relations
    ("p"), each sorted — index -> {"type": "m"/"p", "string": name}
    (the reference's label_map row contract, usm.py:104)."""
    ent_types = sorted({et for et, _ in kb.ENTITIES.values()})
    rels = sorted(kb.RELATIONS)
    out: Dict[int, dict] = {}
    for i, et in enumerate(ent_types):
        out[i] = {"type": "m", "string": et}
    for j, r in enumerate(rels):
        out[len(ent_types) + j] = {"type": "p", "string": r}
    return out


LABEL_MAP = build_label_map()
_LABEL_IDX = {v["string"]: k for k, v in LABEL_MAP.items()}


def _usm_encode(
    tokens: Sequence[str], max_pairs: int | None = 400
) -> Tuple[List[Link], List[Link], List[Link], dict]:
    """Stand-in encoder: the (ttl, ltl, tll) link sets a trained USM
    would emit above threshold for this sentence, plus the
    {(hs, he, rel, ts, te) -> score} map of the pairs that produced
    them (spans in the inclusive link-index convention) — kept so the
    scored extraction path doesn't re-run the pair scorer.

    ``max_pairs``: the text plane's pair cap — a sentence whose
    len(mentions)^2 exceeds it (a ``t_capped`` sentence of the plane)
    emits NO links at all (skipped entirely, like candidate_pairs'
    drop).  The gold replica uses the same default, so engine and
    oracle skip the same sentences."""
    ments = extract_mentions(tokens)
    if max_pairs is not None and len(ments) * len(ments) > max_pairs:
        return [], [], [], {}
    ttl: set = set()
    ltl: set = set()
    tll: set = set()
    pair_scores: dict = {}
    for surf, etype, s, e in ments:
        ttl.add((s, e - 1, 0))  # H2T span link
        li = _LABEL_IDX[etype]
        ltl.add((li, s, 0))  # L2H
        ltl.add((li, e - 1, 1))  # L2T
    for head in ments:
        for tail in ments:
            if (head[2], head[3]) == (tail[2], tail[3]):
                continue
            scored = score_pair(tokens, head, tail)
            if scored is None:
                continue
            rel, score = scored
            if score < kb.SCORE_THRESHOLD:
                continue
            ri = _LABEL_IDX[rel]
            hs, he = head[2], head[3] - 1
            ts, te = tail[2], tail[3] - 1
            pair_scores[(hs, he, rel, ts, te)] = score
            ttl.add((hs, ts, 1))  # H2H
            ttl.add((he, te, 2))  # T2T
            ltl.add((ri, hs, 0))  # L2H (subject head)
            ltl.add((ri, he, 1))  # L2T (subject tail)
            tll.add((ts, ri, 0))  # H2L (object head)
            tll.add((te, ri, 1))  # T2L (object tail)
    return sorted(ttl), sorted(ltl), sorted(tll), pair_scores


def usm_links(
    tokens: Sequence[str],
) -> Tuple[List[Link], List[Link], List[Link]]:
    ttl, ltl, tll, _scores = _usm_encode(tokens)
    return ttl, ltl, tll


def usm_decode(
    ttl: List[Link],
    ltl: List[Link],
    tll: List[Link],
    label_map: Dict[int, dict],
) -> Tuple[List[Tuple[Tuple[int, int], str]], List[Tuple]]:
    """The reference pointer algebra (usm.py:100-168), one sentence.

    Returns (ents, relations): ents = [((h, t), type_string)] with t
    INCLUSIVE (reference emits (span, type) with its own end handling;
    we keep the link-index convention and convert at the surface),
    relations = [((hh, ht), rel_string, (th, tt))].
    """
    # token - token
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

    # label - token
    l2h = [
        (x[0], x[1])
        for x in ltl
        if x[2] == 0 and x[0] in label_map and x[1] in hs
    ]
    l2t = [
        (x[0], x[1])
        for x in ltl
        if x[2] == 1 and x[0] in label_map and x[1] in ts
    ]
    l2ht = []
    for l1, h in l2h:
        for l2, t in l2t:
            if l1 == l2 and (h, t) in h2t_set:
                l2ht.append(
                    ((label_map[l1]["string"], label_map[l1]["type"], l1), (h, t))
                )
    ls = {lb[0][2] for lb in l2ht}

    # token - label
    h2l = [
        (x[0], x[1]) for x in tll if x[2] == 0 and x[0] in hs and x[1] in ls
    ]
    t2l = [
        (x[0], x[1]) for x in tll if x[2] == 1 and x[0] in ts and x[1] in ls
    ]
    ht2l = []
    for h, l1 in h2l:
        for t, l2 in t2l:
            if l1 == l2 and (h, t) in h2t_set and label_map[l1]["type"] == "p":
                ht2l.append(((h, t), (label_map[l1]["string"], "p", l1)))

    # merge
    ents = sorted(
        {(ent[1], ent[0][0]) for ent in l2ht if ent[0][1] == "m"}
    )
    relations = set()
    for (hh, ht), (th, tt) in pairs:
        for l1, (h1, t1) in l2ht:
            if l1[1] == "p":
                for (h2, t2), l2 in ht2l:
                    if l2[1] == "p":
                        if (
                            hh == h1
                            and ht == t1
                            and th == h2
                            and tt == t2
                            and l1[2] == l2[2]
                        ):
                            relations.add(((hh, ht), l1[0], (th, tt)))
    return ents, sorted(relations)


def usm_sentence(
    tokens: Sequence[str],
) -> Tuple[List[Tuple[str, str, int, int]], List[Tuple]]:
    """tokens -> (typed entity spans, relation triples) through the
    full encode+decode.  Spans are (surface, type, start, end_excl);
    triples are (subj_surface, rel, obj_surface, hs, he, ts, te)."""
    ents, rels = usm_sentence_scored(tokens)
    return ents, [row[:-1] for row in rels]


def usm_sentence_scored(
    tokens: Sequence[str],
) -> Tuple[List[Tuple[str, str, int, int]], List[Tuple]]:
    """Like usm_sentence, but each relation row carries the encoder's
    pair score as its last element (what a trained USM would expose as
    its ttl logit); decoded combinations the encoder never scored
    directly (pointer cross-talk) carry 0.0."""
    ttl, ltl, tll, pair_scores = _usm_encode(tokens)
    ents, rels = usm_decode(ttl, ltl, tll, LABEL_MAP)
    ent_rows = [
        (" ".join(tokens[h : t + 1]), etype, h, t + 1) for (h, t), etype in ents
    ]
    rel_rows = [
        (
            " ".join(tokens[hh : ht + 1]),
            rel,
            " ".join(tokens[th : tt + 1]),
            hh,
            ht + 1,
            th,
            tt + 1,
            pair_scores.get((hh, ht, rel, th, tt), 0.0),
        )
        for (hh, ht), rel, (th, tt) in rels
    ]
    return ent_rows, rel_rows


def usm_extract_scored(sentences: DataFrame) -> DataFrame:
    """sentences -> scored triples in the pipeline's TRIPLES_SCHEMA —
    the M6 slot as a drop-in extraction mechanism for run_pipeline
    (extractor="usm"), like the fused and CasRel slots.

    The USM decode itself emits no scores (pure link algebra); the
    stand-in attaches the encoder's own pair score for the decoded
    (subj span, obj span) pair — what a trained USM would expose as
    its ttl logit — carried through from the single encode pass (no
    re-scoring in the hot path).

    Sentences over the 400-pair cap emit nothing: they are exactly the
    sentences the text plane flags ``t_capped`` (same mentions, same
    cap), which the plane itself still extracts on its banded path.
    The cap stays because the decode's nested-loop joins grow faster
    than linearly with the number of links."""
    return decode_sentences(
        sentences, lambda toks: usm_sentence_scored(toks)[1], TRIPLES_SCHEMA.fields[3:]
    )


def usm_entities(sentences: DataFrame) -> DataFrame:
    """sentences -> (url, warc_ts, sent_id, ent_type, start, end,
    surface): typed entity spans from the SAME unified pass (the
    property that distinguishes USM from the pipeline NER: entities and
    relations decode from one set of link matrices)."""
    return decode_sentences(
        sentences,
        lambda toks: [
            (etype, s, e, surf) for surf, etype, s, e in usm_sentence_scored(toks)[0]
        ],
        [
            StructField("ent_type", StringType(), False),
            StructField("start", IntegerType(), False),
            StructField("end", IntegerType(), False),
            StructField("surface", StringType(), False),
        ],
    )
