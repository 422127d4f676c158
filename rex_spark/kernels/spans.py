"""Span-pairing kernels (W2): head/tail pointer pairing with backtrace.

Reference parity (re-expressed): /root/reference/rex/utils/span.py:8-81,
behavior pinned by /root/reference/tests/utils/test_span.py:6-69.
Semantics: each head position pairs with the closest tail position >=
it (tails may be reused by multiple heads); with ``backtrace``, every
tail that was never chosen as "closest" pairs with the closest head <=
it, appended after the forward pairs in tail order.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from typing import Iterable, List, Sequence, Tuple


def closest_span_pairs(
    heads: Sequence[int], tails: Sequence[int], backtrace: bool = True
) -> List[Tuple[int, int]]:
    """Pair sorted, distinct head and tail positions into (start, end)
    spans — the position-list core of find_closest_span_pairs, at
    O((heads + tails) log tails) whatever the sequence length."""
    used = dict.fromkeys(tails, False)

    pairs: List[Tuple[int, int]] = []
    for h in heads:
        j = bisect_left(tails, h)
        if j < len(tails):
            t = tails[j]
            used[t] = True
            pairs.append((h, t))

    if backtrace:
        for t in tails:
            if not used[t]:
                j = bisect_right(heads, t)
                if j > 0:
                    pairs.append((heads[j - 1], t))
    return pairs


def find_closest_span_pairs(
    head: Sequence[int], tail: Sequence[int], backtrace: bool = True
) -> List[Tuple[int, int]]:
    """Pair 0/1 head-pointer and tail-pointer vectors into (start, end) spans."""
    return closest_span_pairs(
        [i for i, v in enumerate(head) if v == 1],
        [i for i, v in enumerate(tail) if v == 1],
        backtrace,
    )


def find_closest_span_pairs_with_index(
    heads: Iterable[Sequence[int]],
    tails: Iterable[Sequence[int]],
    backtrace: bool = True,
) -> List[Tuple[int, int, int]]:
    """Batched variant: (row_idx, start, end) for each pair in each row."""
    out: List[Tuple[int, int, int]] = []
    for idx, (h, t) in enumerate(zip(heads, tails)):
        for s, e in find_closest_span_pairs(h, t, backtrace=backtrace):
            out.append((idx, s, e))
    return out
