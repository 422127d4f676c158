"""GlobalPointer-style span-matrix extraction (SURVEY §2.10 M5 + §2.5 W4).

Re-expresses the decode path of the reference's GlobalPointer
(/root/reference/rex/models/global_pointer.py:90-164): the model scores
EVERY (start, end, class) span cell of an L x L matrix per class; cells
over threshold become 1 and are decoded to spans by the pointer-matrix
kernel (rex/utils/position.py:119-132 semantics, re-expressed in
kernels/positions.py:decode_pointer_matrix).

The scorer here is the deterministic stand-in used across this repo
(a real GlobalPointer checkpoint fills the same slot: its sigmoid
scores are thresholded into the same binary matrix row contract —
one (doc, class) -> L x L matrix, batched through Arrow).  A span cell
(s, e) scores 1 iff every token in [s, e] lies in the class's length
band — so the output is every sub-span of each maximal run, which is
what a span-enumeration model emits before span-NMS.

Scale notes: the matrix is built per (doc, class) inside the
``crossing.fan_out`` crossing and never crosses the Arrow boundary
(only decoded spans do); ``max_len`` bounds the O(L^2) cell count
exactly as the reference's max sequence length does.  Narrow plan: no shuffle from scan to span rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField

from ..kernels.positions import decode_pointer_matrix
from .crossing import fan_out

_SPAN_FIELDS = [
    StructField("ent_type", StringType(), True),
    StructField("start_pos", LongType(), True),
    StructField("end_pos", LongType(), True),
]


def _norm_tokens(col):
    return F.split(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), " ")


def _score_matrix(lengths: np.ndarray, lo: int, hi: int) -> np.ndarray:
    """Binary L x L span-score matrix: cell (s, e) = 1 iff all token
    lengths in [s, e] are within [lo, hi] (upper triangle only)."""
    n = len(lengths)
    flags = (lengths >= lo) & (lengths <= hi)
    c = np.concatenate(([0], np.cumsum(flags)))
    s_idx = np.arange(n)[:, None]
    e_idx = np.arange(n)[None, :]
    full = (c[e_idx + 1] - c[s_idx]) == (e_idx - s_idx + 1)
    return (full & (e_idx >= s_idx)).astype(np.int8)


def global_pointer_extract(
    documents: DataFrame,
    type_specs: dict[str, tuple[int, int]],
    max_len: int = 64,
) -> DataFrame:
    """documents -> (doc_id, ent_type, start_pos, end_pos) span rows
    through the span-matrix scorer + pointer-matrix decode."""
    classes = sorted(type_specs.items())

    def spans(tokens):
        toks = tokens[:max_len]
        if not toks:
            return
        lengths = np.array([len(t) for t in toks], dtype=np.int64)
        mat = [_score_matrix(lengths, lo, hi) for _name, (lo, hi) in classes]
        for s, e_excl, cls in decode_pointer_matrix(mat):
            yield classes[cls][0], s, e_excl

    src = documents.select("doc_id", _norm_tokens(F.col("text")).alias("tokens"))
    return fan_out(src, ("doc_id",), ("tokens",), spans, _SPAN_FIELDS)
