"""CasRel-style two-stage pointer extraction (SURVEY §2.10 M3 + §2.5 W2).

Re-expresses the decode path of the reference's CasRel joint extractor
(rex/models/casrel.py:115-188 + rex/modules/span.py:99-146): stage 1
decodes SUBJECT spans from head/tail pointer vectors via
closest-span pairing (rex/utils/span.py:8-52 semantics, kernel
kernels/spans.py); stage 2, conditioned on each subject, decodes
per-relation OBJECT pointer vectors into spans and emits triples.

The pointer vectors here come from a deterministic stand-in "tagger"
(the gazetteer + pattern scorer that plays the role of the trained
model everywhere in this repo); a real CasRel checkpoint would produce
them from sigmoids and thresholding (rex/modules/span.py:112-115) with
eval batch size 1 — which maps to the per-sentence loop inside the
Arrow batch, NOT to one-row batches (the reference's constraint,
conf/ere/casrel_webnlg.yaml eval_batch_size: 1, is an artifact of its
tensor shapes; a UDF loops sentences inside large batches freely).

Pointer decoding genuinely differs from pair scoring on nested
mentions with different end positions (the pointer representation
cannot express them unambiguously — a known CasRel limitation), so
the triple sets of the two paths agree at P/R >= 0.95, not exactly;
tests pin that bound on the synthetic corpus.
"""

from __future__ import annotations

from typing import Iterator, List, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame

from ..kernels.extractor import extract_mentions, score_pair
from ..kernels.spans import find_closest_span_pairs
from .extraction import TRIPLES_SCHEMA


def pointer_decode_sentence(
    tokens: Sequence[str], max_pairs: int | None = 400
) -> List[Tuple]:
    """One sentence -> scored triples via the two-stage pointer decode.

    Returns rows shaped like kernels.extractor.extract_sentence.
    ``max_pairs`` is the whole-sentence pathological-pair cap, the
    same 400 as candidate_pairs / extract_plane / USM: len(mentions)^2
    over the cap skips the sentence here (extract_plane instead
    recovers it on the exact banded path).  The gold replica calls
    this function with the same default, so engine and oracle drop in
    lockstep.
    """
    ments = extract_mentions(tokens)
    if len(ments) < 2:
        return []
    if max_pairs is not None and len(ments) * len(ments) > max_pairs:
        return []
    n = len(tokens)

    # stage 1: subject pointer vectors over token positions
    subj_heads = [0] * n
    subj_tails = [0] * n
    for _surf, _et, s, e in ments:
        subj_heads[s] = 1
        subj_tails[e - 1] = 1
    subj_spans = find_closest_span_pairs(subj_heads, subj_tails)

    by_span = {(s, e): m for m in ments for s, e in [(m[2], m[3] - 1)]}
    out: List[Tuple] = []
    seen = set()
    for hs, he in subj_spans:
        subj = by_span.get((hs, he))
        if subj is None:
            continue  # pointer pair not an actual mention (nested mix-up)
        # stage 2: per-relation object pointer vectors conditioned on subj
        rel_vecs: dict = {}
        rel_score: dict = {}
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
                if obj is None:
                    continue
                sc = rel_score.get((rel, os_, oe), 0.0)
                key = (subj[2], subj[3], rel, os_, oe)
                if key in seen:
                    continue
                seen.add(key)
                out.append(
                    (
                        subj[0], rel, obj[0],
                        subj[2], subj[3], obj[2], obj[3], sc,
                    )
                )
    return out


def casrel_extract(sentences: DataFrame) -> DataFrame:
    """sentences -> triples through the pointer-decode path (M3 slot).

    ``sentences`` is ``plane_sentences`` of a plane built with text
    (url, warc_ts, sent_id and tokens are read); the output has
    TRIPLES_SCHEMA, the columns of ``plane_triples`` — so
    ``run_pipeline(extractor="casrel")`` swaps it in for the plane's
    own triples.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: List[tuple] = []
            for url, wts, sid, tokens in zip(
                pdf["url"], pdf["warc_ts"], pdf["sent_id"], pdf["tokens"]
            ):
                for subj, rel, obj, hs, he, ts, te, sc in pointer_decode_sentence(
                    list(tokens)
                ):
                    rows.append((url, wts, sid, subj, rel, obj, hs, he, ts, te, sc))
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
