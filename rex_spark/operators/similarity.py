"""Similarity search over embedding columns (ARRAY<FLOAT>).

- ``cosine_topk``       exact top-k per query by brute force — the
                        correctness baseline; all arithmetic JVM-side
                        (zip_with/aggregate inside whole-stage codegen).
- ``lsh_ann_topk``      random-hyperplane LSH bucketing: queries only
                        meet vectors sharing a hyperplane-sign bucket
                        (multi-probe over several tables).  The 100 TB
                        path: cost O(n x tables) instead of O(n x q).

Hyperplanes are derived deterministically from splitmix64 (seeded), so
results are rerun-stable — no rand() in the plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..kernels.hashing import splitmix64


def _normed(embeddings: DataFrame) -> DataFrame:
    v = F.col("embedding").cast("array<double>")
    return embeddings.select(
        "vec_id",
        v.alias("v"),
        F.sqrt(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("norm"),
    )


def _cosine(vx, vy, nx, ny):
    return F.aggregate(
        F.zip_with(vx, vy, lambda p, q: p * q), F.lit(0.0), lambda a, x: a + x
    ) / (nx * ny)


def cosine_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Exact top-k neighbors (by cosine) for each query id.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k,
    deterministic tie-break on neighbor_id.
    """
    e = _normed(embeddings)
    q = e.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _cosine(F.col("qv"), F.col("v"), F.col("qnorm"), F.col("norm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 1227) -> np.ndarray:
    """Deterministic pseudo-gaussian hyperplanes from splitmix64 bits."""
    state = seed
    vals = np.empty(dim * n_planes, dtype=np.float64)
    for i in range(dim * n_planes):
        state = splitmix64(state)
        # uniform in (-1, 1); direction-uniform enough for bucketing
        vals[i] = (state / float(1 << 63)) - 1.0
    return vals.reshape(n_planes, dim)


def bucketed(
    e: DataFrame,
    n_planes: int = 4,
    n_tables: int = 16,
    dim: int = 64,
) -> DataFrame:
    """_normed() rows -> one row per (vec_id, table_id, bucket):
    sign-pattern bucket in each of ``n_tables`` hyperplane tables.

    The dot products are evaluated JVM-side with the plane weights
    inlined as plan literals (whole-stage codegen, zero Python).  The
    plan build costs ~1 ms per inlined weight, amortized away at scale,
    where the literal plan's executor throughput wins (BASELINE.md
    "LSH bucketing impl guard").
    """

    def bucket_cols():
        cols = []
        for t in range(n_tables):
            planes = _hyperplanes(dim, n_planes, seed=1227 + t)
            bits = [
                F.when(
                    F.aggregate(
                        F.zip_with(
                            F.col("v"),
                            F.array(*[F.lit(float(w)) for w in planes[p]]),
                            lambda a, b: a * b,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    >= 0,
                    F.lit(1 << p),
                ).otherwise(F.lit(0))
                for p in range(n_planes)
            ]
            acc = bits[0]
            for bcol in bits[1:]:
                acc = acc + bcol
            cols.append(acc.alias(f"bucket_{t}"))
        return cols

    tagged = e.select("vec_id", "v", "norm", *bucket_cols())
    bucket_structs = F.array(
        *[
            F.struct(F.lit(t).alias("table_id"), F.col(f"bucket_{t}").alias("bucket"))
            for t in range(n_tables)
        ]
    )
    return tagged.select(
        "vec_id", "v", "norm", F.explode(bucket_structs).alias("tb")
    ).select("vec_id", "v", "norm", "tb.table_id", "tb.bucket")


def lsh_ann_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: sign-bucket join, exact cosine within bucket.

    Each of ``n_tables`` tables hashes a vector to an ``n_planes``-bit
    bucket; a query meets a candidate if they share a bucket in ANY
    table.  Recall rises with tables and falls with planes (collision
    prob per bit is 1 - theta/pi); the defaults target recall@5 >= 0.7
    on weakly-correlated embeddings (top cosine ~0.4, the hardest
    regime — pinned by tests/test_similarity_recall.py).  On strongly
    clustered real embeddings raise ``n_planes`` to shrink buckets;
    candidate cost stays ~n_tables * bucket_size per query either way.
    """
    exploded = bucketed(_normed(embeddings), n_planes, n_tables, dim)

    q = exploded.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "table_id",
        "bucket",
    )
    cand = (
        exploded.join(F.broadcast(q), ["table_id", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "v", "norm",
                "qv", "qnorm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            _cosine(F.col("qv"), F.col("v"), F.col("qnorm"), F.col("norm")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hash_sample(embeddings: DataFrame, n: int) -> list:
    """Deterministic bounded sample: first ``n`` rows in md5(vec_id)
    order — a seeded uniform draw with no ingest-order bias (at web
    scale "first N ids" correlates with crawl time/source; the hash
    order does not).  One bounded driver collect via
    TakeOrderedAndProject (single scan, k-heap per partition)."""
    return (
        embeddings.select(
            "vec_id",
            "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(n)
        .collect()
    )


def ivf_fit(
    vectors: np.ndarray, n_centroids: int = 16, iters: int = 5, seed: int = 1227
) -> np.ndarray:
    """Deterministic k-means quantizer fit (the IVF coarse index).

    Standard IVF practice: the quantizer trains on a bounded SAMPLE
    (driver-side numpy), only assignment runs over the full table.
    Everything is seeded and iteration-capped, so refitting on the same
    sample is bit-identical — the property the materialized-gold oracle
    relies on.  Empty clusters re-seed deterministically.
    """
    from ..kernels.hashing import splitmix64

    vecs = np.asarray(vectors, dtype=np.float64)
    n, dim = vecs.shape
    state = seed
    idx = []
    for _ in range(n_centroids):
        state = splitmix64(state)
        idx.append(state % n)
    centroids = vecs[idx].copy()
    for _ in range(iters):
        d2 = ((vecs[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_centroids):
            members = vecs[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
            else:
                state = splitmix64(state)
                centroids[c] = vecs[state % n]
    return centroids


def _ivf_rows(vectors, centroids: np.ndarray, n_probe: int):
    """(assignment, probe-list) for a batch of vectors: nearest
    centroid id, and the n_probe nearest centroid ids (ascending
    distance, ties by centroid id — numpy argsort is stable)."""
    vecs = np.asarray(vectors, dtype=np.float64)
    d2 = ((vecs[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)
    probes = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
    return assign, probes


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_sample: int = 4096,
    seed: int = 1227,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer (the second
    scale-path ANN family next to the hyperplane-LSH one).

    Quantizer fit on a deterministic bounded HASH-sample: rows ordered
    by md5(vec_id) take the first ``train_sample`` — a seeded uniform
    draw with no ingest-order bias (at web scale "first N ids"
    correlates with crawl time/source; the hash order does not).  One
    bounded driver collect (TakeOrderedAndProject: single scan, k-heap
    per partition — no full sort), like the query vectors; assignment
    + query probing run distributed in one Arrow-batched UDF;
    candidates meet via a centroid equi-join (cost O(n_probe x
    inverted-list length) per query, never all-pairs); exact cosine
    verifies and ranks JVM-side.  The gold replica orders by the same
    md5 hex (rex_spark/oracle_gold.py ensure_ivf_gold).
    """
    import pandas as pd

    sample = _hash_sample(embeddings, train_sample)
    centroids = ivf_fit(
        [r["embedding"] for r in sample], n_centroids=n_centroids, seed=seed
    )
    qset = set(query_ids)

    def assign_batches(it):
        for pdf in it:
            vecs = np.array([list(v) for v in pdf["embedding"]])
            if not len(vecs):
                continue
            assign, probes = _ivf_rows(vecs, centroids, n_probe)
            ids = pdf["vec_id"].to_numpy()
            rows_id, rows_c, rows_q = [], [], []
            for i, vid in enumerate(ids):
                rows_id.append(vid)
                rows_c.append(int(assign[i]))
                rows_q.append(False)
                if vid in qset:
                    for c in probes[i]:
                        rows_id.append(vid)
                        rows_c.append(int(c))
                        rows_q.append(True)
            yield pd.DataFrame(
                {"vec_id": rows_id, "centroid_id": rows_c, "is_probe": rows_q}
            )

    tagged = embeddings.select("vec_id", "embedding").mapInPandas(
        assign_batches, schema="vec_id long, centroid_id int, is_probe boolean"
    )
    assignments = tagged.where(~F.col("is_probe")).select("vec_id", "centroid_id")
    qprobes = tagged.where(F.col("is_probe")).select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    cand = (
        assignments.join(F.broadcast(qprobes), "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    e = _normed(embeddings)
    qv = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    ).where(F.col("query_id").isin(query_ids))
    scored = (
        cand.join(e.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine(F.col("qv"), F.col("v"), F.col("qnorm"), F.col("norm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# Measured recall/cost frontier for lsh_ann_topk, from
# tools/ann_tradeoff.py on the sf0.01 embeddings (500 x 64-dim,
# weakly correlated — the hardest recall regime) — the full grid with
# wall clocks is recorded in BASELINE.md "ANN recall/cost trade".
# Rows: (n_planes, n_tables, recall@5, scan_fraction).
LSH_GRID_N500 = [
    (2, 4, 0.80, 0.679), (2, 8, 0.98, 0.901), (2, 16, 1.00, 0.988),
    (2, 32, 1.00, 1.000),
    (4, 4, 0.39, 0.235), (4, 8, 0.73, 0.410), (4, 16, 0.90, 0.639),
    (4, 32, 0.99, 0.854),
    (6, 4, 0.22, 0.068), (6, 8, 0.42, 0.127), (6, 16, 0.57, 0.235),
    (6, 32, 0.81, 0.406),
    (8, 4, 0.06, 0.019), (8, 8, 0.13, 0.036), (8, 16, 0.22, 0.072),
    (8, 32, 0.36, 0.138),
]

# clusterability decision boundary for select_ann: mean cosine of a
# sample vector to its assigned IVF centroid.  Measured on both
# regimes: weakly-correlated sf0.01/sf0.1 embeddings score 0.27-0.34,
# planted-cluster embeddings (test_similarity_recall.py's IVF regime)
# score 0.995 — 0.7 splits them with wide margin on both sides.
CLUSTERED_WITHIN_COS = 0.7


def clusterability_probe(
    embeddings: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 2048,
    seed: int = 1227,
) -> dict:
    """Cheap clusterability probe on the bounded hash-sample (the same
    draw the IVF quantizer trains on — one bounded collect, no full
    scan): fit the quantizer, then measure

    - ``within``  — mean cosine of each sample vector to its assigned
      centroid (→1 when vectors form tight angular clusters);
    - ``between`` — mean pairwise cosine between centroids (high
      values mean the "clusters" are not separated);
    - ``clustered`` — within >= CLUSTERED_WITHIN_COS.

    This is the quantity that predicts which ANN family wins: IVF
    recall collapses exactly when vectors are far (in angle) from
    every centroid, which is what low ``within`` measures.
    """
    sample = _hash_sample(embeddings, sample_size)
    vecs = np.asarray([r["embedding"] for r in sample], dtype=np.float64)
    k = min(n_centroids, max(2, len(vecs) // 8))
    centroids = ivf_fit(vecs, n_centroids=k, seed=seed)
    assign, _ = _ivf_rows(vecs, centroids, 1)

    def unit(a):
        return a / np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-12)

    vn, cn = unit(vecs), unit(centroids)
    within = float(np.mean(np.sum(vn * cn[assign], axis=1)))
    iu = np.triu_indices(k, 1)
    between = float(np.mean((cn @ cn.T)[iu]))
    return {
        "within": within,
        "between": between,
        "n_centroids": k,
        "sample_size": len(vecs),
        "clustered": within >= CLUSTERED_WITHIN_COS,
    }


def select_ann(
    embeddings: DataFrame,
    target_recall: float = 0.9,
    n_centroids: int = 16,
    seed: int = 1227,
) -> dict:
    """Pick the ANN family + parameters for a target recall using the
    clusterability probe and the two MEASURED recall grids
    (BASELINE.md; tools/ann_tradeoff.py, tools/ivf_tradeoff.py):

    - clustered embeddings -> IVF (its home turf: >= 0.9 recall at the
      16x4 default, pinned by tests).  n_probe doubles above a 0.9
      target — on clustered data recall is limited by the few
      neighbors straddling a cluster boundary, and probing more lists
      is the measured fix (8 probes reach 1.0 on every measured row).
    - unclustered -> hyperplane LSH: the cheapest measured
      (planes, tables) point whose recall clears the target
      (min scan fraction, grid at n=500; scan fraction only shrinks
      as n grows at fixed planes/tables, so the grid pick is an upper
      bound on relative cost).
    - no measured LSH point clears the target -> exact brute force
      (honest fallback rather than an unmeasured extrapolation).
    """
    probe = clusterability_probe(
        embeddings, n_centroids=n_centroids, seed=seed
    )
    if probe["clustered"]:
        return {
            "family": "ivf",
            "params": {
                "n_centroids": n_centroids,
                "n_probe": 8 if target_recall > 0.9 else 4,
            },
            "probe": probe,
        }
    feasible = [row for row in LSH_GRID_N500 if row[2] >= target_recall]
    if not feasible:
        return {"family": "brute", "params": {}, "probe": probe}
    planes, tables, _r, _s = min(feasible, key=lambda row: row[3])
    return {
        "family": "lsh",
        "params": {"n_planes": planes, "n_tables": tables},
        "probe": probe,
    }


def ann_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    auto: bool = True,
    target_recall: float = 0.9,
    family: str | None = None,
    dim: int = 64,
    seed: int = 1227,
) -> DataFrame:
    """Top-k neighbor search with automatic ANN family selection.

    ``auto=True`` (default): run :func:`select_ann` and dispatch to
    IVF / LSH / brute with the chosen parameters.  ``family`` forces a
    family ("lsh" / "ivf" / "brute") with its defaults; ``auto=False``
    without a family keeps the engine default (LSH).  Output schema is
    identical across families: (query_id, neighbor_id, cosine, rank).
    """
    if family is None:
        family, params = (
            ("lsh", {})
            if not auto
            else (lambda d: (d["family"], d["params"]))(
                select_ann(embeddings, target_recall=target_recall, seed=seed)
            )
        )
    else:
        params = {}
    if family == "ivf":
        return ivf_topk(embeddings, query_ids, k=k, seed=seed, **params)
    if family == "brute":
        return cosine_topk(embeddings, query_ids, k=k)
    return lsh_ann_topk(embeddings, query_ids, k=k, dim=dim, **params)


def embedding_neardup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Near-duplicate pairs at cosine >= threshold, LSH-bucketed.

    The 100 TB default: candidates only meet inside a shared
    (table, bucket) — cost O(n x tables x bucket_size), never
    all-pairs — then exact cosine verifies each candidate.  At high
    thresholds the miss probability per pair is
    (1 - (1-theta/pi)^planes)^tables (~2e-6 at cosine 0.9 with the
    defaults), so output matches dedup.embedding_neardup_pairs (the
    brute-force verifier) with overwhelming probability; tests pin
    equality on the synthetic tables.
    """
    exploded = bucketed(_normed(embeddings), n_planes, n_tables, dim)
    slim = exploded.select("vec_id", "table_id", "bucket")
    cand = (
        slim.alias("x")
        .join(slim.alias("y"), ["table_id", "bucket"])
        .where(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    e = _normed(embeddings)
    ea = e.select(F.col("vec_id").alias("a"), F.col("v").alias("va"),
                  F.col("norm").alias("na"))
    eb = e.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"),
                  F.col("norm").alias("nb"))
    return (
        cand.join(ea, "a")
        .join(eb, "b")
        .withColumn(
            "cosine", _cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
        )
        .where(F.col("cosine") >= threshold)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )
