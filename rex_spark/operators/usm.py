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

Scale shape: the whole thing is one mapInPandas over the plane's
sentence rows — the text plane stays narrow (no shuffle); downstream
dedup/graph ops own the shuffles, exactly like the fused plane and
the CasRel extractor.
Agreement with the fused pair-scorer path is pinned at P/R >= 0.95 by
tests (the pointer algebra can merge/cross spans the pair scorer keeps
distinct, a known property of pointer unification).
"""

from __future__ import annotations

from typing import Dict, Iterator, List, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import kb
from ..kernels.extractor import extract_mentions, score_pair

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

    ``max_pairs``: the same whole-sentence pathological-pair cap as
    every other mechanism — a sentence whose len(mentions)^2 exceeds
    it emits NO links at all (skipped entirely, like candidate_pairs'
    drop).  The gold replica uses the same default, so engine and
    oracle drop in lockstep."""
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


def usm_extract(sentences: DataFrame) -> DataFrame:
    """sentences -> (url, sent_id, subj, pred, obj, spans) via the USM
    slot — plane_sentences rows in, like casrel_extract."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: List[tuple] = []
            for url, sid, tokens in zip(
                pdf["url"], pdf["sent_id"], pdf["tokens"]
            ):
                _ents, rels = usm_sentence(list(tokens))
                for subj, rel, obj, hs, he, ts, te in rels:
                    rows.append((url, sid, subj, rel, obj, hs, he, ts, te))
            out = pd.DataFrame(
                rows,
                columns=[
                    "url", "sent_id", "subj", "pred", "obj",
                    "h_start", "h_end", "t_start", "t_end",
                ],
            )
            if rows:
                out = out.astype(
                    {
                        "sent_id": "int32", "h_start": "int32", "h_end": "int32",
                        "t_start": "int32", "t_end": "int32",
                    }
                )
            yield out

    return sentences.select("url", "sent_id", "tokens").mapInPandas(
        batches,
        schema=(
            "url string, sent_id int, subj string, pred string, obj string,"
            " h_start int, h_end int, t_start int, t_end int"
        ),
    )


def usm_extract_scored(sentences: DataFrame) -> DataFrame:
    """sentences -> scored triples in the pipeline's TRIPLES_SCHEMA —
    the M6 slot as a drop-in extraction mechanism for run_pipeline
    (extractor="usm"), like the fused and CasRel slots.

    The USM decode itself emits no scores (pure link algebra); the
    stand-in attaches the encoder's own pair score for the decoded
    (subj span, obj span) pair — what a trained USM would expose as
    its ttl logit — carried through from the single encode pass (no
    re-scoring in the hot path)."""
    from .extraction import TRIPLES_SCHEMA

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: List[tuple] = []
            for url, wts, sid, tokens in zip(
                pdf["url"], pdf["warc_ts"], pdf["sent_id"], pdf["tokens"]
            ):
                _ents, rels = usm_sentence_scored(list(tokens))
                for subj, rel, obj, hs, he, ts, te, score in rels:
                    rows.append(
                        (url, wts, sid, subj, rel, obj, hs, he, ts, te, score)
                    )
            out = pd.DataFrame(
                rows,
                columns=[
                    "url", "warc_ts", "sent_id", "subj", "pred", "obj",
                    "h_start", "h_end", "t_start", "t_end", "score",
                ],
            )
            if rows:
                out = out.astype(
                    {
                        "sent_id": "int32", "h_start": "int32", "h_end": "int32",
                        "t_start": "int32", "t_end": "int32", "score": "float32",
                    }
                )
            yield out

    return sentences.select("url", "warc_ts", "sent_id", "tokens").mapInPandas(
        batches, schema=TRIPLES_SCHEMA
    )


def usm_entities(sentences: DataFrame) -> DataFrame:
    """sentences -> typed entity spans from the SAME unified pass (the
    property that distinguishes USM from the pipeline NER: entities and
    relations decode from one set of link matrices)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: List[tuple] = []
            for url, sid, tokens in zip(
                pdf["url"], pdf["sent_id"], pdf["tokens"]
            ):
                ents, _rels = usm_sentence(list(tokens))
                for surf, etype, s, e in ents:
                    rows.append((url, sid, etype, s, e, surf))
            out = pd.DataFrame(
                rows,
                columns=["url", "sent_id", "ent_type", "start", "end", "surface"],
            )
            if rows:
                out = out.astype(
                    {"sent_id": "int32", "start": "int32", "end": "int32"}
                )
            yield out

    return sentences.select("url", "sent_id", "tokens").mapInPandas(
        batches,
        schema=(
            "url string, sent_id int, ent_type string, start int, end int,"
            " surface string"
        ),
    )
