"""Error-tolerant row transforms (SURVEY §2.2 P10) + input discovery (S8).

P10 re-expresses TransformBase's per-instance try/except
(rex/data/transforms/base.py:50-106: skip or raise per config, count
what was dropped) on the one per-row crossing, ``crossing.fan_out``:
the wrapped kernel runs once per row; failures either skip the row or
re-raise, and skip counts surface through a Spark accumulator into the
caller's metrics/lineage instead of vanishing (the no-silent-caps
rule).

S8 re-expresses ``find_files``'s regex walk (rex/utils/io.py:204-214)
against the scan metadata: filter by ``input_file_name`` so discovery
happens on the same distributed listing the read uses, not a driver
walk.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .crossing import fan_out


def tolerant_map_in_pandas(
    df: DataFrame,
    row_fn: Callable[[tuple], Sequence[tuple] | None],
    schema,
    in_cols: list[str],
    out_cols: list[str],
    on_error: str = "skip",
):
    """Apply ``row_fn`` (one input row -> 0..n output tuples) with
    per-row error tolerance.  ``schema`` (a ``StructType`` or DDL
    string) names and types the output columns; ``out_cols`` is the
    order of the fields in ``row_fn``'s tuples.

    Returns (DataFrame, skip_counter): force the DataFrame, then read
    ``skip_counter.value`` for the number of rows dropped by
    exceptions — the P10 drop-count that REx logs per transform.
    ``on_error='raise'`` propagates the first failure instead
    (transform_with_exceptions semantics).
    """
    if on_error not in ("skip", "raise"):
        raise ValueError("on_error must be 'skip' or 'raise'")
    sc = df.sparkSession.sparkContext
    skipped = sc.accumulator(0)

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)

    def guarded(*row):
        try:
            return row_fn(row) or ()
        except Exception:
            if on_error == "raise":
                raise
            skipped.add(1)
            return ()

    out = fan_out(df, (), in_cols, guarded, [schema[c] for c in out_cols])
    return out.select(*schema.names), skipped


def discover_inputs(
    spark: SparkSession, path: str, name_pattern: str
) -> DataFrame:
    """S8: regex-filtered input discovery via scan metadata.

    Returns the distinct file paths under ``path`` whose name matches
    ``name_pattern`` — computed from ``input_file_name()`` on a
    metadata-only scan, so discovery distributes with the listing
    instead of walking the tree on the driver.
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*")
        .load(path)
        .select(F.col("path").alias("file"))
        .where(F.col("file").rlike(name_pattern))
        .distinct()
    )
