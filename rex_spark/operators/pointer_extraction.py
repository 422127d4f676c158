"""CasRel-style two-stage pointer extraction (SURVEY §2.10 M3 + §2.5 W2).

Re-expresses the decode path of the reference's CasRel joint extractor
(rex/models/casrel.py:115-188 + rex/modules/span.py:99-146): stage 1
decodes SUBJECT spans from head/tail pointers via closest-span pairing
(rex/utils/span.py:8-52 semantics, kernel kernels/spans.py); stage 2,
conditioned on each subject, decodes per-relation OBJECT pointers into
spans and emits triples.

The pointers here come from a deterministic stand-in "tagger" (the
gazetteer + pattern scorer that plays the role of the trained model
everywhere in this repo); a real CasRel checkpoint would produce them
from sigmoids and thresholding (rex/modules/span.py:112-115) with eval
batch size 1 — which maps to the per-sentence call inside the Arrow
batch (``decode_sentences``), NOT to one-row batches (the reference's
constraint, conf/ere/casrel_webnlg.yaml eval_batch_size: 1, is an
artifact of its tensor shapes).

Pointers are kept as sorted position lists rather than n-length 0/1
vectors, and stage 2 scans only the objects inside the scorer's gap
band (``tail_band``), so every sentence decodes exactly — no pair cap
— at near-linear cost in its mentions.

Pointer decoding genuinely differs from pair scoring on nested
mentions with different end positions (the pointer representation
cannot express them unambiguously — a known CasRel limitation), so
the triple sets of the two paths agree at P/R >= 0.95, not exactly;
tests pin that bound on the synthetic corpus.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from pyspark.sql import DataFrame

from ..kernels.extractor import Mention, score_pair, tail_band
from ..kernels.spans import closest_span_pairs
from .extraction import TRIPLES_SCHEMA, decode_sentences


def pointer_decode_sentence(
    tokens: Sequence[str], mentions: Sequence[Mention]
) -> List[Tuple]:
    """One sentence and its ``extract_mentions`` -> scored triples via
    the two-stage pointer decode.

    Returns rows shaped like kernels.extractor.extract_sentence.  The
    output equals the decode over full-length 0/1 pointer vectors and
    every (subject, object) pair (pinned by tests/test_drop_metrics.py):
    score_pair rejects every object outside the subject's gap band, so
    the band scan sees every object the full scan would keep, in the
    same order.
    """
    starts = [m[2] for m in mentions]  # ascending and distinct by construction
    by_span = {(m[2], m[3] - 1): m for m in mentions}

    # stage 1: subject head/tail pointers
    subj_spans = closest_span_pairs(starts, sorted({m[3] - 1 for m in mentions}))

    out: List[Tuple] = []
    for hs, he in subj_spans:
        subj = by_span.get((hs, he))
        if subj is None:
            continue  # pointer pair not an actual mention (nested mix-up)
        # stage 2: per-relation object pointers conditioned on subj
        rel_ptrs: dict = {}
        rel_score: dict = {}
        lo, hi = tail_band(starts, subj[3])
        for obj in mentions[lo:hi]:
            scored = score_pair(tokens, subj, obj)
            if scored is None:
                continue
            rel, sc = scored
            heads, tails = rel_ptrs.setdefault(rel, ([], set()))
            heads.append(obj[2])  # band order: ascending, distinct
            tails.add(obj[3] - 1)
            rel_score[(rel, obj[2], obj[3] - 1)] = sc
        for rel, (heads, tails) in rel_ptrs.items():
            for os_, oe in closest_span_pairs(heads, sorted(tails)):
                obj = by_span.get((os_, oe))
                if obj is None:
                    continue
                out.append(
                    (
                        subj[0], rel, obj[0],
                        subj[2], subj[3], obj[2], obj[3],
                        rel_score.get((rel, os_, oe), 0.0),
                    )
                )
    return out


def casrel_extract(sentences: DataFrame) -> DataFrame:
    """sentences -> triples through the pointer-decode path (M3 slot).

    ``sentences`` is ``plane_sentences`` of a plane built with text
    (url, warc_ts, sent_id, tokens and m_* are read); the output has
    TRIPLES_SCHEMA, the columns of ``plane_triples`` — so
    ``run_pipeline(extractor="casrel")`` swaps it in for the plane's
    own triples.
    """
    return decode_sentences(
        sentences, pointer_decode_sentence, TRIPLES_SCHEMA.fields[3:]
    )
