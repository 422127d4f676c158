"""The deterministic reference extractor (mention -> pair -> triple).

This is the frozen stand-in for REx's neural scorers (SURVEY.md §2.10):
- ``extract_mentions``  plays the NER/tagging role (M4/M5/W1): typed
  spans over tokens, gazetteer longest-match (overlaps allowed, like
  REx's span lists).
- ``score_pair``        plays the sentence-level RE scorer role (M1):
  a candidate (head, tail) pair gets a per-relation score; here the
  deterministic pattern match replaces the PCNN sigmoid
  (rex/models/sent_pcnn.py:11-55 row contract: pair in -> scores out).
- ``scored_pairs``      is the one pair scan (the fused plane and the
  USM encoder read it; the CasRel decode scans the same ``tail_band``
  per subject): it visits only the tails inside the scorer's gap band,
  so every sentence is scored exactly at near-linear cost in its
  mentions, and no slot needs a pair cap.
- ``extract_sentence`` / ``extract_document`` compose the full path the
  Spark pipeline distributes; running them in-process IS the oracle the
  P/R>=0.95 contract compares against.

All functions are pure; the only state is the frozen KB (kb.py,
MODEL_VERSION recorded in lineage).
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from typing import Dict, Iterator, List, Sequence, Tuple

from . import kb
from .textnorm import sent_seg, tokenize

Mention = Tuple[str, str, int, int]  # (surface, ent_type, start, end_excl)
ScoredTriple = Tuple[str, str, str, int, int, int, int, float]
# (subj_surface, pred, obj_surface, h_start, h_end, t_start, t_end, score)

_GAZ = kb.gazetteer()
_PATTERNS = kb.pattern_index()
_MAX_GAP = max(len(g) for (_, _, g) in _PATTERNS)


def extract_mentions(tokens: Sequence[str]) -> List[Mention]:
    """Gazetteer matcher: all (possibly overlapping) typed spans.

    Longest match per (start, first-token) bucket wins per candidate,
    but matches starting at different positions may overlap — REx
    entity lists allow overlapping spans.
    """
    out: List[Mention] = []
    n = len(tokens)
    for i in range(n):
        bucket = _GAZ.get(tokens[i])
        if not bucket:
            continue
        for toks, etype, _canonical in bucket:
            m = len(toks)
            if i + m <= n and tuple(tokens[i : i + m]) == toks:
                out.append((" ".join(tokens[i : i + m]), etype, i, i + m))
                break  # longest-first bucket order: keep only longest at i
    return out


def score_pair(
    tokens: Sequence[str], head: Mention, tail: Mention
) -> Tuple[str, float] | None:
    """Deterministic per-pair relation score.

    head must precede tail with a gap of at most _MAX_GAP tokens whose
    exact token sequence appears in the pattern index for the pair's
    (head_type, tail_type); otherwise None (sub-threshold candidate).
    """
    _, h_type, _, h_end = head
    _, t_type, t_start, _ = tail
    gap_len = t_start - h_end
    if gap_len < 0 or gap_len > _MAX_GAP:
        return None
    gap = tuple(tokens[h_end:t_start])
    rel = _PATTERNS.get((h_type, t_type, gap))
    if rel is None:
        return None
    score = kb.SCORE_BASE + 0.1 / (1 + gap_len)
    return rel, round(score, 6)


def tail_band(starts: Sequence[int], head_end: int) -> Tuple[int, int]:
    """The [lo, hi) slice of the ascending mention ``starts`` that
    score_pair can accept as tails of a head ending at ``head_end``:
    exactly the starts in [head_end, head_end + _MAX_GAP]."""
    return bisect_left(starts, head_end), bisect_right(starts, head_end + _MAX_GAP)


def scored_pairs(
    tokens: Sequence[str], mentions: List[Mention]
) -> Iterator[Tuple[Mention, Mention, str, float]]:
    """Every candidate pair the scorer accepts, as (head, tail, rel,
    score): pairs score_pair scores at or above kb.SCORE_THRESHOLD,
    with distinct head and tail spans.

    score_pair only accepts pairs with ``0 <= t_start - h_end <=
    _MAX_GAP``, so each head's tails are scanned over ``tail_band`` of
    the position-sorted mentions only: the complete set of acceptable
    pairs, in (head, tail) mention order, at O(mentions x band
    occupancy) instead of O(mentions^2).  Every band tail starts at or
    after the head's end, so its span always differs from the head's.
    """
    starts = [m[2] for m in mentions]  # ascending by construction
    for head in mentions:
        lo, hi = tail_band(starts, head[3])
        for tail in mentions[lo:hi]:
            scored = score_pair(tokens, head, tail)
            if scored is not None and scored[1] >= kb.SCORE_THRESHOLD:
                yield head, tail, scored[0], scored[1]


def extract_sentence(
    tokens: Sequence[str],
    max_pairs: int | None = None,
    mentions: List[Mention] | None = None,
) -> List[ScoredTriple]:
    """Mentions -> accepted candidate pairs -> scored triples.

    Candidate generation mirrors J1 (head/tail mention pairs with
    distinct spans, rex/data/transforms/sent_re.py:50-63) restricted to
    the pairs the scorer can accept (``scored_pairs``); scoring +
    thresholding mirrors T3.  Output is deduplicated on the triple key
    keeping the max score (the dedup-keep-best window, SURVEY.md
    §2.5); ties keep the FIRST pair in (head, tail) order.  The output
    equals the quadratic all-pairs composition on every sentence
    (pinned by tests/test_drop_metrics.py), so no sentence needs a
    pair cap.

    ``max_pairs`` is accepted and ignored: no sentence needs a cap,
    and the keyword stays only for callers that still pass one
    (perfbench/layers.py's kernel microbench).

    ``mentions``: the sentence's ``extract_mentions(tokens)`` when the
    caller already has them (extract_plane emits them too), so they
    are computed once per sentence.
    """
    if mentions is None:
        mentions = extract_mentions(tokens)
    best: Dict[Tuple[str, str, str], ScoredTriple] = {}
    for head, tail, rel, score in scored_pairs(tokens, mentions):
        key = (head[0], rel, tail[0])
        prev = best.get(key)
        if prev is None or score > prev[7]:
            best[key] = (
                head[0], rel, tail[0], head[2], head[3], tail[2], tail[3], score,
            )
    return sorted(best.values())


def extract_document(
    clean_text: str, lang: str = "en"
) -> List[Tuple[int, str, List[str], List[ScoredTriple]]]:
    """clean_text -> [(sent_id, sentence, tokens, scored triples)].

    The segmentation language follows the page's lang column
    (BASELINE.json input_hint); anything non-zh uses en rules."""
    seg_lang = "zh" if lang == "zh" else "en"
    out = []
    for sent_id, sent in enumerate(sent_seg(clean_text, lang=seg_lang)):
        tokens = tokenize(sent, lang=seg_lang)
        out.append((sent_id, sent, tokens, extract_sentence(tokens)))
    return out


def document_triples(clean_text: str, lang: str = "en") -> List[Tuple[str, str, str]]:
    """Distinct (subj, pred, obj) set for one document (the comparable
    unit of rex/metrics/triple.py)."""
    seen = set()
    for _, _, _, triples in extract_document(clean_text, lang):
        for t in triples:
            seen.add((t[0], t[1], t[2]))
    return sorted(seen)
