"""The one per-row crossing from Spark into Python.

``fan_out`` runs every per-row Python transform in ``rex_spark``: the
text plane, the per-sentence model slots, the docs strip, WARC record
expansion, PDF text extraction, the NER decodes, the multimodal
decoders, the corpus synthesizers, SimHash and the P10 tolerant map.
One input row becomes zero or more output rows, in one ``mapInArrow``
(RecordBatches in and out, no pandas frames on either side).

Two kinds of Python map do not fit a per-row ``fn`` and keep their own
crossing: the batch-vectorized ones (``dedup.lsh_table`` hashes a
whole batch's shingles at once, ``similarity.ivf_topk`` assigns a
batch to its centroids in one matrix product) and the grouped ones
(``bags``, ``skew``, the streaming state), which see a whole group.

The row contract, stated once here:

- key columns never become Python objects: each output row ``take``s
  them from its input row by index, whatever their type.  A timestamp
  key (``warc_ts``) is taken as the Arrow timestamp it arrives as: its
  values are UTC epoch micros under any session time zone, and the
  output batch labels it with ``to_arrow_schema``'s ``tz=UTC``, so it
  is converted on neither side;
- an ``fn`` yields a timestamp as a UTC-aware ``datetime`` into a
  timestamp field (``io/warc``, the corpus synthesizers); Arrow
  converts it to epoch micros;
- an output batch is flushed every ``FLUSH_ROWS`` rows and at the end
  of each input batch, so one input row that expands a lot (a 1 GB
  crawl file) never becomes one batch.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType

FLUSH_ROWS = 2048


def _py_values(col) -> list:
    """An Arrow column -> Python values, nulls as ``None``.

    String, binary and list columns go through ``to_pandas().tolist()``
    (several times faster than pyarrow's per-scalar ``to_pylist``).
    Every other type (integer, boolean, float) goes through
    ``to_pylist()``, which is exact: pandas would turn an integer
    column with nulls into floats."""
    import pyarrow as pa

    t = col.type
    if not (pa.types.is_string(t) or pa.types.is_binary(t) or pa.types.is_list(t)):
        return col.to_pylist()
    vals = col.to_pandas().tolist()
    if pa.types.is_list(t):
        return [None if v is None else v.tolist() for v in vals]
    return vals


def fan_out(
    df: DataFrame,
    keys: Sequence[str],
    inputs: Sequence[str],
    fn: Callable[..., Iterable[tuple]],
    fields: Sequence[StructField],
) -> DataFrame:
    """``df`` -> ``(*keys, *row)`` for every ``row`` of ``fn(*inputs)``,
    called once per input row.

    ``inputs`` cross as Python values (:func:`_py_values`); a column
    that is a key and an input crosses once.  ``fn`` yields tuples
    shaped like ``fields``.  Key columns keep their type and
    nullability."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    cols = list(keys) + [c for c in dict.fromkeys(inputs) if c not in keys]
    src = df.select(*cols)
    schema = StructType(src.schema.fields[: len(keys)] + list(fields))
    out_schema = to_arrow_schema(schema)
    built = list(out_schema)[len(keys) :]
    arg_pos = [cols.index(c) for c in inputs]

    def batch(rb, src_rows, rows):
        take = pa.array(src_rows, type=pa.int32())
        return pa.RecordBatch.from_arrays(
            [rb.column(k).take(take) for k in range(len(keys))]
            + [pa.array(c, type=f.type) for c, f in zip(zip(*rows), built)],
            schema=out_schema,
        )

    def batches(it):
        for rb in it:
            args = [_py_values(rb.column(p)) for p in arg_pos]
            src_rows, rows = [], []
            for i, vals in enumerate(zip(*args)):
                for row in fn(*vals):
                    src_rows.append(i)
                    rows.append(row)
                    if len(rows) >= FLUSH_ROWS:
                        yield batch(rb, src_rows, rows)
                        src_rows, rows = [], []
            if rows:
                yield batch(rb, src_rows, rows)

    return src.mapInArrow(batches, schema=schema)
