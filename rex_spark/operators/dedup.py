"""Document deduplication family (training-data pipeline ops).

All operate on the ``documents`` table shape
(doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT).

- ``exact_dedup``          hash-groupBy on normalized text (scale path:
                           one shuffle on the group key, map-side partial).
- ``ngram_jaccard_pairs``  EXACT near-dup pairs via an inverted shingle
                           index: explode n-grams -> self-equi-join on
                           the shingle -> per-pair common counts ->
                           Jaccard.  This is also the verifier for the
                           probabilistic variants.
- ``minhash_lsh_pairs``    MinHash signatures + LSH banding: candidates
                           only meet inside a band bucket, verified with
                           exact Jaccard.  The 100 TB path (cost ~
                           O(docs x bands), never all-pairs).
- ``lsh_table`` / ``lsh_pairs``  the one MinHash-LSH implementation
                           under minhash_lsh_pairs, canonical.py's fuzzy
                           surface edges and streaming/incremental.py's
                           near-dup state: one Arrow pass to (id,
                           shingles, band keys), narrow JVM band rows,
                           one band self-join, exact-Jaccard verify.
- ``simhash_pairs``        64-bit SimHash, blocked by 4x16-bit chunks
                           (pigeonhole: hamming<=3 pairs share a chunk),
                           verified by exact hamming distance.
- ``embedding_neardup_pairs``  cosine >= t over an embedding column.

Each returns a DataFrame; __spark_entry__ wires them to DuckDB oracles
where expressible (exact variants) and rows-only checks otherwise.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.hashing import (
    band_keys_batch,
    minhash_params,
    minhash_signatures_batch,
    simhash64,
)
from ..kernels.textnorm import ngrams
from .crossing import _py_values, fan_out


def _parallelize(df: DataFrame) -> DataFrame:
    """Repartition an UNDER-parallelized input up to the cluster's
    default parallelism before a CPU-heavy Python stage.

    Small parquet files scan as one partition (maxPartitionBytes), so
    the UDF would run on one core; at real scale the scan already has
    >= defaultParallelism partitions and this is a no-op (no shuffle).
    """
    dp = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < dp:
        return df.repartition(dp)
    return df


def _norm_text(col):
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _tokens(col):
    return F.split(_norm_text(col), " ")


def _shingles(col, n: int):
    """Distinct token n-grams, JVM-side (transform over sequence)."""
    toks = _tokens(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    short = F.array(F.concat_ws(" ", toks))  # len<n -> whole text shingle
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(short))


def exact_dedup(documents: DataFrame) -> DataFrame:
    """One row per distinct normalized text: kept doc_id (min), dup count."""
    return (
        documents.select("doc_id", _norm_text(F.col("text")).alias("norm"))
        .groupBy("norm")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("doc_id", "dup_count")
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold pairs via inverted index.

    Scale shape: |postings| = sum of per-doc distinct shingles; the
    self-join meets only docs sharing a shingle (never all-pairs), and
    AQE skew-join splits hot shingles.

    ``max_df`` is the stop-shingle cap: a shingle appearing in more
    than ``max_df`` documents is dropped from the POSTINGS before the
    self-join (per-doc sizes keep the full shingle set, so reported
    Jaccard can only be under-estimated, never inflated).  At web
    scale this is load-bearing — one stopword shingle shared by d
    documents otherwise yields d^2 join rows — and a pair that
    overlaps ONLY on stop-shingles is noise, not a near-duplicate.
    None = exact (the verifier form).
    """
    sh = documents.select(
        "doc_id", F.explode(_shingles(F.col("text"), n)).alias("shingle")
    ).dropDuplicates(["doc_id", "shingle"])
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    postings = sh
    if max_df is not None:
        # df count + rejoin share the shingle-key shuffle with the
        # self-join below (co-partitioned, no extra exchange round)
        df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        postings = sh.join(
            df_counts.where(F.col("df") <= max_df).select("shingle"), "shingle"
        )
    a = postings.select(F.col("doc_id").alias("a"), "shingle")
    b = postings.select(F.col("doc_id").alias("b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "na"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "nb"), "b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


NUM_PERM = 128
NUM_BANDS = 32


def shingle_band_keys(
    texts: Sequence[str | None], shingle_fn: Callable, params: tuple, num_bands: int
) -> tuple:
    """texts -> ``(kept, shingles, keys)``: the positions of the texts
    that have shingles (the rest cannot LSH-link), their sorted distinct
    shingles and their ``(len(kept), num_bands)`` uint64 band keys."""
    kept, shs = [], []
    for i, text in enumerate(texts):
        sh = sorted(set(shingle_fn(text)))
        if sh:
            kept.append(i)
            shs.append(sh)
    # a zero-row batch still has a typed (0, num_bands) matrix
    return kept, shs, band_keys_batch(minhash_signatures_batch(shs, params), num_bands)


def lsh_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_fn: Callable[[str | None], Iterable[str]],
    num_perm: int,
    num_bands: int,
) -> DataFrame:
    """One Arrow pass: ``(id_col, shingles, band_keys)`` — the sorted
    distinct shingles of ``text_col`` and the ``num_bands`` LSH band
    keys of their MinHash signature (:func:`shingle_band_keys`).  Rows
    with no shingles are dropped (they cannot LSH-link).

    Band keys follow one signed CONVENTION: the uint64 key's bits
    viewed as int64 (two's complement), NOT an offset shift — the
    incremental near-dup state persists them, so every band table must
    use exactly this mapping to stay join-comparable."""
    import numpy as np
    import pyarrow as pa

    params = minhash_params(num_perm)
    schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("shingles", ArrayType(StringType(), False), False),
            StructField("band_keys", ArrayType(LongType(), False), False),
        ]
    )

    def lsh_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            kept, shs, keys = shingle_band_keys(
                _py_values(batch.column(text_col)), shingle_fn, params, num_bands
            )
            take = pa.array(kept, pa.int32())
            offsets = np.arange(0, num_bands * (len(kept) + 1), num_bands, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col).take(take).cast(pa.int64()),
                    pa.array(shs, pa.list_(pa.string())),
                    pa.ListArray.from_arrays(
                        offsets, pa.array(keys.reshape(-1).view(np.int64))
                    ),
                ],
                names=[id_col, "shingles", "band_keys"],
            )

    return df.select(id_col, text_col).mapInArrow(lsh_batches, schema=schema)


def band_rows(table: DataFrame, id_col: str) -> DataFrame:
    """:func:`lsh_table` rows -> one narrow JVM row per
    ``(id_col, band_id int, band_key long)``."""
    return table.select(id_col, F.posexplode("band_keys").alias("band_id", "band_key"))


def verify_jaccard(
    cand: DataFrame, table: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(a, b) candidates -> (a, b, jaccard) with the exact Jaccard of
    their ``shingles`` in ``table`` at least ``threshold``."""

    def side(name):
        return table.select(
            F.col(id_col).alias(name), F.col("shingles").alias(f"sh_{name}")
        )

    return (
        cand.join(side("a"), "a")
        .join(side("b"), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def lsh_pairs(
    table: DataFrame, id_col: str, threshold: float, max_bucket: int | None = None
) -> DataFrame:
    """Band-bucket self-join of an :func:`lsh_table`, verified with
    exact Jaccard -> (a < b, jaccard >= threshold), lazily.

    The table is checkpointed once (its Python pass runs in that job)
    and read by every consumer: a Python map under the self-join would
    otherwise run once per aliased side.  A checkpoint and not a cache:
    both sides of the self-join scan the same checkpointed RDD, so the
    band-row exchange of one side is reused by the other, which a
    cached relation's scan defeats.  The band rows entering the
    self-join shuffle are narrow; shingle arrays are joined back only
    for the candidates.  Buckets of more than ``max_bucket`` rows are
    dropped before the join by one filter on a bucket-size window,
    partitioned like the self-join so the two share one shuffle.  The
    join and verification run in the caller's action; the table's
    blocks are freed with the returned frame, as connected components'
    per-round checkpoints are (localCheckpoint -> .checkpoint() on a
    real deployment).
    """
    from pyspark.sql import Window

    table = table.localCheckpoint()
    banded = band_rows(table, id_col)
    if max_bucket is not None:
        bucket = Window.partitionBy("band_id", "band_key")
        banded = (
            banded.withColumn("bsz", F.count(F.lit(1)).over(bucket))
            .where(F.col("bsz") <= max_bucket)
            .drop("bsz")
        )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band_id", "band_key"])
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("a"), F.col(f"y.{id_col}").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    return verify_jaccard(cand, table, id_col, threshold)


def document_lsh_table(
    documents: DataFrame,
    n: int = 3,
    num_perm: int = NUM_PERM,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """(doc_id, text) -> :func:`lsh_table` over lower-cased,
    whitespace-collapsed token n-grams (empty or null text is the
    single shingle ``""``) — shared by minhash_lsh_pairs and the
    incremental near-dup state, so both shingle identically.  The loop
    runs in Python: building slice-and-concat results per document in
    Catalyst codegen measured ~4x slower for long documents."""

    def shingles(text):
        return ngrams(" ".join((text or "").lower().split()).split(" "), n)

    src = _parallelize(documents.select("doc_id", "text"))
    return lsh_table(src, "doc_id", "text", shingles, num_perm, num_bands)


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    num_perm: int = NUM_PERM,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """LSH-blocked candidate pairs verified by exact Jaccard.

    With r = num_perm/num_bands rows per band, the detection
    probability at similarity s is 1-(1-s^r)^b (r=4, b=32: ~0.998 at
    s=0.5).  Output schema matches ngram_jaccard_pairs; at high
    thresholds the two agree with overwhelming probability, which the
    tests exploit.

    One :func:`document_lsh_table` pass, then :func:`lsh_pairs` — the
    same code canonical.py's fuzzy edges and the incremental streaming
    dedup run.
    """
    table = document_lsh_table(documents, n, num_perm, num_bands)
    return lsh_pairs(table, "doc_id", threshold).select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    )


def simhash_pairs(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: 4x16-bit chunk blocking + exact hamming.

    Any pair with hamming <= 3 over 64 bits shares at least one of the
    4 chunks (pigeonhole), so blocking is lossless for max_hamming<=3.
    """
    sims = fan_out(
        _parallelize(documents.select("doc_id", "text")), ("doc_id",), ("text",),
        lambda text: [(simhash64((text or "").lower().split()) - (1 << 63),)],
        [StructField("simhash", LongType(), False)],
    )
    chunks = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftright("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_id", "c.chunk")
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk_id", "chunk"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
        .dropDuplicates(["a", "b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.95, max_query_id: int | None = None
) -> DataFrame:
    """Cosine >= threshold pairs over (vec_id, embedding ARRAY<FLOAT>).

    Brute-force baseline with an optional query-side bound (the scale
    path is LSH bucketing in similarity.py).  Dot products stay
    JVM-side via zip_with + aggregate — no Python in the O(n^2) loop.
    """
    e = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.sqrt(
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        ).alias("norm"),
    )
    left = e
    if max_query_id is not None:
        left = e.where(F.col("vec_id") < max_query_id)
    pairs = (
        left.alias("x")
        .join(e.alias("y"), F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("a"),
            F.col("y.vec_id").alias("b"),
            (
                F.aggregate(
                    F.zip_with("x.v", "y.v", lambda p, q: p * q),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("x.norm") * F.col("y.norm"))
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )
    return pairs
