"""The one per-row crossing from Spark into Python.

``fan_out`` runs every per-row Python transform on the crawl -> triple
path: the text plane, the per-sentence model slots, the docs strip,
WARC record expansion, PDF text extraction and the NER decodes.  One
input row becomes zero or more output rows, in one ``mapInArrow``
(RecordBatches in and out, no pandas frames on either side).

The row contract, stated once here:

- key columns never become Python objects: each output row ``take``s
  them from its input row by index;
- ``warc_ts`` crosses as ``warc_us`` (int64 epoch micros) in both
  directions and is converted on the JVM side — a timestamp column
  pays a tz/unit conversion per element on each side of the boundary,
  a plain long does not;
- an output batch is flushed every ``FLUSH_ROWS`` rows and at the end
  of each input batch, so one input row that expands a lot (a 1 GB
  crawl file) never becomes one batch.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

FLUSH_ROWS = 2048


def _py_values(col) -> list:
    """A string, binary or list Arrow column -> Python values, through
    ``to_pandas().tolist()`` (several times faster than pyarrow's
    per-scalar ``to_pylist``).  Integer and timestamp columns must not
    come through here: pandas turns their nulls into floats."""
    import pyarrow as pa

    vals = col.to_pandas().tolist()
    if pa.types.is_list(col.type):
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

    ``inputs`` are string, binary or list columns; a column that is a
    key and an input crosses once.  ``fn`` yields tuples shaped like
    ``fields``; a field named ``warc_us`` comes back as ``warc_ts``.
    Key columns keep their type and nullability."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    cols = list(keys) + [c for c in dict.fromkeys(inputs) if c not in keys]
    src = df.select(
        *[F.unix_micros(c).alias("warc_us") if c == "warc_ts" else c for c in cols]
    )
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

    return src.mapInArrow(batches, schema=schema).select(
        *[
            F.timestamp_micros(n).alias("warc_ts") if n == "warc_us" else n
            for n in schema.names
        ]
    )
