"""Label encoding operators (SURVEY §2.2 P7/P8).

P8 multi-hot re-expresses rex/data/label_encoder.py:59-68
(convert_to_multi_hot) as a relational shape: the
label vocabulary is an EXPLICIT ordered list (the LabelEncoder's
id->label mapping), and the hot vector is built JVM-side with
``transform`` + ``array_contains`` over the per-group label set — no
Python in the path, and the vocabulary is a plan literal (broadcast by
construction, never shuffled).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def multi_hot_encode(
    df: DataFrame, keys: list[str], label_col: str, labels: list[str]
) -> DataFrame:
    """Per key group: the multi-hot vector of observed labels.

    Output: (*keys, multi_hot ARRAY<INT> in ``labels`` order,
    n_labels = number of set bits).  One shuffle (the groupBy);
    collect_set keeps per-group state bounded by the vocabulary size.
    """
    vocab = F.array(*[F.lit(x) for x in labels])
    grouped = df.groupBy(*keys).agg(
        F.collect_set(label_col).alias("_seen")
    )
    mh = F.transform(
        vocab, lambda lab: F.array_contains(F.col("_seen"), lab).cast("int")
    )
    return grouped.select(
        *keys,
        mh.alias("multi_hot"),
        F.size(F.array_intersect(F.col("_seen"), vocab)).alias("n_labels"),
    )

