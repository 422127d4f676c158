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
the reference's behavior rather than "fixing" it.  The joins are
hash-indexed, so a sentence's decode cost follows its links and
decoded rows, not their products.

Scale shape: each slot is one ``decode_sentences`` Arrow crossing over
the plane's sentence rows — narrow, no shuffle; downstream dedup/graph
ops own the shuffles, exactly like the fused plane and the CasRel
extractor.  Like both, USM decodes every sentence exactly: the encoder
reads the fused plane's gap-banded pair scan and the decode is
output-sensitive, so there is no pair cap.
Agreement with the fused pair-scorer path is pinned at P/R >= 0.95 by
tests (the pointer algebra can merge/cross spans the pair scorer keeps
distinct, a known property of pointer unification).
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StringType, StructField

from ..kernels import kb
from ..kernels.extractor import Mention, scored_pairs
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
    tokens: Sequence[str], mentions: Sequence[Mention]
) -> Tuple[List[Link], List[Link], List[Link], dict]:
    """Stand-in encoder: the (ttl, ltl, tll) link sets a trained USM
    would emit above threshold for this sentence (given its
    ``extract_mentions``), plus the {(hs, he, rel, ts, te) -> score} map
    of the pairs that produced them (spans in the inclusive link-index
    convention) — kept so the scored extraction path doesn't re-run the
    pair scorer.

    Pairs come from ``scored_pairs``, the gap-banded scan of the fused
    plane, so every sentence is encoded, however many mentions it has."""
    ttl: set = set()
    ltl: set = set()
    tll: set = set()
    pair_scores: dict = {}
    for surf, etype, s, e in mentions:
        ttl.add((s, e - 1, 0))  # H2T span link
        li = _LABEL_IDX[etype]
        ltl.add((li, s, 0))  # L2H
        ltl.add((li, e - 1, 1))  # L2T
    for head, tail, rel, score in scored_pairs(tokens, mentions):
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
    tokens: Sequence[str], mentions: Sequence[Mention]
) -> Tuple[List[Link], List[Link], List[Link]]:
    ttl, ltl, tll, _scores = _usm_encode(tokens, mentions)
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

    Each of the reference's nested-loop joins is a hash-indexed join
    here: H2T tails are indexed by head and the other link families
    are probed by set membership, so the cost follows the links and
    decoded rows rather than their products.  The output is the
    reference's, label cross-talk included (pinned against the
    nested-loop decode by tests/test_usm.py).
    """
    # token - token: H2T spans, indexed by head
    tails_of: Dict[int, List[int]] = {}
    for h, t, kind in ttl:
        if kind == 0:
            tails_of.setdefault(h, []).append(t)
    t2t = {(a, b) for a, b, kind in ttl if kind == 2}
    pairs = {
        ((hh, ht), (th, tt))
        for hh, th, kind in ttl
        if kind == 1
        for ht in tails_of.get(hh, ())
        for tt in tails_of.get(th, ())
        if (ht, tt) in t2t
    }

    # label - token: label-typed H2T spans
    l2t = {(lb, t) for lb, t, kind in ltl if kind == 1}
    l2ht = {
        (lb, (h, t))
        for lb, h, kind in ltl
        if kind == 0 and lb in label_map
        for t in tails_of.get(h, ())
        if (lb, t) in l2t
    }

    # token - label: relation-labelled object spans
    ls = {lb for lb, _span in l2ht}
    t2l = {(t, lb) for t, lb, kind in tll if kind == 1}
    ht2l = {
        ((h, t), lb)
        for h, lb, kind in tll
        if kind == 0 and lb in ls and label_map[lb]["type"] == "p"
        for t in tails_of.get(h, ())
        if (t, lb) in t2l
    }

    # merge
    ents = sorted(
        {(span, label_map[lb]["string"]) for lb, span in l2ht
         if label_map[lb]["type"] == "m"}
    )
    rel_labels: Dict[Tuple[int, int], List[int]] = {}
    for lb, span in l2ht:
        if label_map[lb]["type"] == "p":
            rel_labels.setdefault(span, []).append(lb)
    relations = {
        (subj, label_map[lb]["string"], obj)
        for subj, obj in pairs
        for lb in rel_labels.get(subj, ())
        if (obj, lb) in ht2l
    }
    return ents, sorted(relations)


def usm_sentence(
    tokens: Sequence[str], mentions: Sequence[Mention]
) -> Tuple[List[Tuple[str, str, int, int]], List[Tuple]]:
    """tokens + mentions -> (typed entity spans, relation triples) through
    the full encode+decode.  Spans are (surface, type, start, end_excl);
    triples are (subj_surface, rel, obj_surface, hs, he, ts, te)."""
    ents, rels = usm_sentence_scored(tokens, mentions)
    return ents, [row[:-1] for row in rels]


def usm_sentence_scored(
    tokens: Sequence[str], mentions: Sequence[Mention]
) -> Tuple[List[Tuple[str, str, int, int]], List[Tuple]]:
    """Like usm_sentence, but each relation row carries the encoder's
    pair score as its last element (what a trained USM would expose as
    its ttl logit); decoded combinations the encoder never scored
    directly (pointer cross-talk) carry 0.0."""
    ttl, ltl, tll, pair_scores = _usm_encode(tokens, mentions)
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

    Every sentence is decoded, including those the text plane flags
    ``t_capped``: there is no pair cap."""
    return decode_sentences(
        sentences,
        lambda toks, ments: usm_sentence_scored(toks, ments)[1],
        TRIPLES_SCHEMA.fields[3:],
    )


def usm_entities(sentences: DataFrame) -> DataFrame:
    """sentences -> (url, warc_ts, sent_id, ent_type, start, end,
    surface): typed entity spans from the SAME unified pass (the
    property that distinguishes USM from the pipeline NER: entities and
    relations decode from one set of link matrices)."""
    return decode_sentences(
        sentences,
        lambda toks, ments: [
            (etype, s, e, surf)
            for surf, etype, s, e in usm_sentence_scored(toks, ments)[0]
        ],
        [
            StructField("ent_type", StringType(), False),
            StructField("start", IntegerType(), False),
            StructField("end", IntegerType(), False),
            StructField("surface", StringType(), False),
        ],
    )
