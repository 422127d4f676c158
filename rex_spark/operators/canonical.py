"""Graph plane: entity canonicalization + entity/edge materialization.

North-star requirement with no reference implementation (REx's nearest
analog is the exact-surface bag key, rex/data/transforms/bag_re.py:68-78).
Pipeline:

1. ``surface_nodes``      distinct mention surfaces -> stable 64-bit ids
                          (xxhash64, JVM-side), built and materialized
                          once per ``canonicalize_surfaces`` call; the
                          materializing job also counts them, and the
                          count picks the path: a vocabulary that fits
                          DRIVER_CANON_MAX_SURFACES is collected and
                          canonicalized in-process by the same
                          algorithms, a larger one runs steps 2-3.
2. ``similarity_edges``   two edge sources union-ed, one lazy plan
                          that connected components' first
                          materialization runs:
                          a) one keyed rule: each surface links to the
                             min node id sharing its key, the key being
                             its normalized form (lower, collapse
                             whitespace, strip punctuation — built-ins)
                             or its KB alias canonical (broadcast join
                             with the rel2id.json-style side input);
                          b) MinHash-LSH blocking over char-3-gram
                             shingles + exact-Jaccard verification —
                             the fuzzy path.
3. ``connected_components``  iterative large-star / small-star on an
                          edges DataFrame (Kiveris et al., "Connected
                          Components in MapReduce and Beyond"), with
                          per-iteration localCheckpoint to cut lineage
                          (its job also observes the round's edge count
                          and convergence digest) and AQE skew-join
                          handling; converges in O(log n) rounds even on
                          hub-entity chains.  Once a round's edge set
                          fits DRIVER_CC_MAX_EDGES it is collected and
                          driver union-find finishes the labeling.

The labeled surface table then feeds ``entities_from_labeled``
(component -> surfaces, canonical = most frequent surface) and
``edges_from_labeled`` (triples aggregated to canonical ids with
support counts).

Scale notes: LSH band join is the only quadratic-risk step; banding
keys bound bucket sizes and buckets of more than MAX_BUCKET surfaces
are dropped, uncounted, before the join (identical normalized forms
are still linked by the exact-norm edges).  Component ids are
min-node-id, so results are deterministic.
"""

from __future__ import annotations

from typing import Tuple

import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..kernels import kb
from ..kernels.hashing import minhash_params
from ..kernels.textnorm import char_shingles
from .dedup import lsh_pairs, lsh_table, shingle_band_keys

NUM_PERM = 64
NUM_BANDS = 16
JACCARD_THRESHOLD = 0.60
MAX_BUCKET = 200  # LSH buckets larger than this are degenerate; dropped


def normalize_surface(col):
    """casefold + strip punctuation + collapse whitespace (built-in)."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\p{L}\p{Nd}\s]+", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


def surface_nodes(mentions: DataFrame) -> DataFrame:
    """Distinct surfaces with stable ids and frequency (for canonical
    name election and skew diagnostics)."""
    return (
        mentions.groupBy("surface")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("node_id", F.xxhash64("surface"))
        .withColumn("norm", normalize_surface(F.col("surface")))
    )


def _alias_rows():
    """The KB alias side input (the rel2id.json analog): one
    (canonical, surface) pair per alias, the surface spaced as mentions
    carry it."""
    for canonical, (_etype, surfaces) in kb.ENTITIES.items():
        for s in surfaces:
            yield canonical, " ".join(s) if kb._is_zh(s) else " ".join(s.split())


def _keyed_edges(keyed: DataFrame) -> DataFrame:
    """(kind, key, node_id) rows -> an edge from each node to the min
    node id sharing its (kind, key), where that is another node."""
    rep = F.min("node_id").over(Window.partitionBy("kind", "key"))
    return (
        keyed.withColumn("rep", rep)
        .where(F.col("node_id") != F.col("rep"))
        .select(F.col("node_id").alias("a"), F.col("rep").alias("b"))
    )


def _norm_shingles(norm: str | None) -> list:
    return char_shingles(norm or "", 3)


def _lsh_edges(nodes: DataFrame) -> DataFrame:
    """MinHash-LSH candidates over char-3-gram shingles of ``norm``,
    verified with exact Jaccard (J6): dedup.lsh_table + dedup.lsh_pairs,
    the one LSH implementation shared with document near-dup.  One
    Python pass, run by the LSH table's checkpoint; shingle-less
    surfaces are dropped; band buckets over MAX_BUCKET are dropped
    before the self-join; the band join and verification stay lazy."""
    table = lsh_table(nodes, "node_id", "norm", _norm_shingles, NUM_PERM, NUM_BANDS)
    return lsh_pairs(table, "node_id", JACCARD_THRESHOLD, max_bucket=MAX_BUCKET).select(
        "a", "b"
    )


def similarity_edges(spark, nodes: DataFrame) -> DataFrame:
    """Union of the keyed (exact-norm and alias) and LSH edge sources."""
    # a pandas frame crosses as Arrow: no Python-worker tasks
    frame = pd.DataFrame(list(_alias_rows()), columns=["key", "surface"])
    alias = spark.createDataFrame(frame, "key string, surface string")
    keyed = nodes.select(
        F.lit("norm").alias("kind"), F.col("norm").alias("key"), "node_id"
    ).unionByName(
        nodes.join(F.broadcast(alias), "surface").select(
            F.lit("alias").alias("kind"), "key", "node_id"
        )
    )
    return (
        _keyed_edges(keyed)
        .unionByName(_lsh_edges(nodes))
        .dropDuplicates(["a", "b"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to u's min neighborhood id."""
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        sym.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor <= u (and u) to the min neighborhood id."""
    # orient edges high->low so each node aggregates its smaller neighbors
    lo = F.least("a", "b")
    hi = F.greatest("a", "b")
    oriented = edges.select(hi.alias("a"), lo.alias("b")).where(
        F.col("a") != F.col("b")
    )
    mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
    relinked = (
        oriented.join(mins, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .unionByName(mins.select(F.col("a"), F.col("m").alias("b")))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    return relinked


def _driver_union_find(rows) -> list:
    """Union-find over collected (a, b) edges; component id = min node
    id, matching the distributed algorithm's labeling exactly."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict = {}
    for node in parent:
        root = find(node)
        comp_min[root] = min(comp_min.get(root, node), node)
    return [(node, comp_min[find(node)]) for node in parent]


def _materialize(
    df: DataFrame, checkpoint_dir: str | None = None, **aggregates
) -> Tuple[DataFrame, tuple]:
    """``df`` materialized, and the values of the named ``aggregates``
    over its rows (in keyword order), observed by the job that
    materializes it: localCheckpoint, or reliable ``.checkpoint()``
    when ``checkpoint_dir`` is set (the caller has made it the
    context's checkpoint directory)."""
    seen = Observation()
    df = df.observe(seen, *[agg.alias(name) for name, agg in aggregates.items()])
    if checkpoint_dir is not None:
        df = df.checkpoint(eager=True)
    else:
        df = df.localCheckpoint()
    metrics = seen.get
    return df, tuple(metrics[name] for name in aggregates)


# Edge sets at or below this size are solved with driver-side
# union-find (one collect job, microseconds of CPU) instead of further
# join rounds — the same small-input escape hatch AQE applies when it
# converts a shuffle join to broadcast.  The threshold applies after
# every round: the input edge set, and each round's output, is
# collected and finished on the driver as soon as it fits.  200k edges
# collect to ~3 MB; the distributed rounds exist for everything beyond.
DRIVER_CC_MAX_EDGES = 200_000


def connected_components(
    edges: DataFrame,
    max_iterations: int = 12,
    driver_max_edges: int | None = None,
    checkpoint_dir: str | None = None,
) -> Tuple[DataFrame, int]:
    """Large-star/small-star alternation, finished by driver union-find
    once the edge set fits.  Returns (node_id -> component_id mapping,
    iterations = distributed rounds run).

    The canonical edge set, and each round's output, is materialized
    once; the job that materializes it also observes its row count and
    an order-independent digest (``bit_xor`` of 64-bit row hashes).
    After each materialization:

    - if the count is at most ``driver_max_edges`` (default
      ``DRIVER_CC_MAX_EDGES``), the edges are collected and union-find
      labels them on the driver — 0 iterations when the input already
      fits, as at KB-bounded vocabularies;
    - else, if the digest equals the previous round's (a stable star
      forest) or ``max_iterations`` rounds have run, the star forest
      becomes the membership;
    - else one more large-star/small-star round runs.

    Both star operations keep every node and its connectivity, so
    union-find over any round's edges gives the same partition, and
    both finishes label every node with its component's min node id:
    results do not depend on where the loop stops.
    ``driver_max_edges=0`` forces the fully distributed loop.

    Each round materializes via localCheckpoint: cuts the join-loop
    lineage (REx's pickle-cache analog for iterative state) and gives
    the optimizer fresh statistics per round.  localCheckpoint blocks
    live on executors and do NOT survive executor loss — fine on
    local[*], a liability on a 1000-executor cluster where one
    preempted node would fail the whole loop.  Pass ``checkpoint_dir``
    to switch every round to reliable ``.checkpoint()`` into that
    (HDFS/object-store) directory instead; results are identical
    (pinned by tests/test_canonical_cc.py).  The convergence digest is
    observed by the materializing job, so it costs no job of its own.
    A digest collision between two DIFFERENT edge sets would stop the
    loop before convergence and could yield wrong labels; with a
    64-bit xor digest the per-round collision probability is ~2^-64,
    which we accept in exchange for no extra job per round (an exact
    exceptAll check would add two).
    """
    canon = (
        edges.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _digested(df: DataFrame) -> Tuple[DataFrame, Tuple[int, int]]:
        # bit_xor is overflow-free under ANSI mode, unlike a hash sum
        return _materialize(
            df,
            checkpoint_dir,
            n=F.count(F.lit(1)),
            h=F.expr("bit_xor(xxhash64(a, b))"),
        )

    threshold = (
        DRIVER_CC_MAX_EDGES if driver_max_edges is None else driver_max_edges
    )
    cur, digest = _digested(canon)
    iterations = 0
    while threshold <= 0 or digest[0] > threshold:
        if iterations == max_iterations:
            return _star_membership(cur), iterations
        iterations += 1
        prev_digest = digest
        cur, digest = _digested(_small_star(_large_star(cur)))
        if digest == prev_digest:
            return _star_membership(cur), iterations
    mapping = _driver_union_find(cur.collect())
    # a pandas frame crosses as Arrow: no Python-worker tasks
    frame = pd.DataFrame(mapping, columns=["node_id", "component"])
    schema = "node_id long, component long"
    return edges.sparkSession.createDataFrame(frame, schema=schema), iterations


def _star_membership(forest: DataFrame) -> DataFrame:
    """node_id -> component of a stable star forest (b is the component
    min for every a), the roots labeled with themselves."""
    membership = forest.select(
        F.col("a").alias("node_id"), F.col("b").alias("component")
    )
    roots = membership.select(F.col("component").alias("node_id")).distinct()
    return (
        membership.unionByName(roots.withColumn("component", F.col("node_id")))
        .groupBy("node_id")
        .agg(F.min("component").alias("component"))
    )


# Surface vocabularies at or below this size canonicalize driver-side:
# the materialized vocabulary (whose job already counted it) is
# collected in one more job, then the SAME alias / exact-norm /
# MinHash-band / union-find algorithms run in-process.  A fixed
# KB-bounded gazetteer stays tiny however large the corpus is; an
# open-vocabulary web crawl blows past this and takes the distributed
# path.  Both paths are pinned identical by tests/test_canonical_cc.py.
DRIVER_CANON_MAX_SURFACES = 100_000


def _driver_similarity_edges(rows) -> set:
    """In-process replica of similarity_edges over collected
    (surface, freq, node_id, norm) rows — same kernels, same banding,
    same bucket cap, so the edge set is identical to the distributed
    plan's."""
    sid = {r["surface"]: r["node_id"] for r in rows}
    # (a) keyed: min node id per normalized form and per KB canonical
    keyed: dict = {}
    for r in rows:
        keyed.setdefault(("norm", r["norm"]), []).append(r["node_id"])
    for canonical, surface in _alias_rows():
        if surface in sid:
            keyed.setdefault(("alias", canonical), []).append(sid[surface])
    edges: set = set()
    for ids in keyed.values():
        rep = min(ids)
        edges.update((i, rep) for i in ids if i != rep)
    # (b) MinHash-LSH banding (lsh_table's kernels) + exact-Jaccard verification
    kept, shs, keys = shingle_band_keys(
        [r["norm"] for r in rows], _norm_shingles, minhash_params(NUM_PERM), NUM_BANDS
    )
    shingle_of = {}
    buckets: dict = {}
    for i, sh, row_keys in zip(kept, shs, keys.tolist()):
        node_id = rows[i]["node_id"]
        shingle_of[node_id] = set(sh)
        for band_id, key in enumerate(row_keys):
            buckets.setdefault((band_id, key), []).append(node_id)
    cand = set()
    for ids in buckets.values():
        if len(ids) > MAX_BUCKET:
            continue
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    for a, b in cand:
        sa, sb = shingle_of[a], shingle_of[b]
        inter = len(sa & sb)
        if inter / (len(sa) + len(sb) - inter) >= JACCARD_THRESHOLD:
            edges.add((a, b))
    return edges


def canonicalize_surfaces(
    spark, mentions: DataFrame, driver_max_surfaces: int | None = None
) -> DataFrame:
    """mentions -> labeled surface table (surface, freq, node_id,
    entity_id): the checkpointable output of the canonicalization
    stage, consumed by both the entity and edge materializers.

    The surface vocabulary is built once and materialized; the job that
    materializes it also counts it.  A vocabulary of at most
    ``driver_max_surfaces`` (default ``DRIVER_CANON_MAX_SURFACES``)
    surfaces is collected and canonicalized in-process; a larger one
    feeds the distributed similarity edges and connected components.
    ``driver_max_surfaces=0`` forces the distributed path for any
    non-empty vocabulary."""
    threshold = (
        DRIVER_CANON_MAX_SURFACES
        if driver_max_surfaces is None
        else driver_max_surfaces
    )
    nodes, (n_surfaces,) = _materialize(surface_nodes(mentions), n=F.count(F.lit(1)))
    if n_surfaces <= threshold:
        rows = nodes.collect()
        comp = dict(_driver_union_find(_driver_similarity_edges(rows)))
        frame = pd.DataFrame(
            [
                (
                    r["surface"],
                    r["freq"],
                    r["node_id"],
                    comp.get(r["node_id"], r["node_id"]),
                )
                for r in rows
            ],
            columns=["surface", "freq", "node_id", "entity_id"],
        )
        return spark.createDataFrame(
            frame, "surface string, freq long, node_id long, entity_id long"
        )

    comp, _iters = connected_components(similarity_edges(spark, nodes))
    return (
        nodes.join(comp, "node_id", "left")
        .withColumn("entity_id", F.coalesce("component", "node_id"))
        .select("surface", "freq", "node_id", "entity_id")
        # surface-vocab-sized (one row per surface, not per mention) and
        # read by both the entity and the edge materializers:
        # materialize it once so the label join (and a star-forest
        # membership aggregate behind it) does not run per consumer.
        # Cluster caveat: localCheckpoint blocks don't survive executor
        # loss; a real deployment lands this stage in the StageStore
        # (and passes checkpoint_dir= to connected_components above,
        # which switches its loop to reliable .checkpoint()).
        .localCheckpoint(eager=True)
    )


def entities_from_labeled(labeled: DataFrame) -> DataFrame:
    """entities: entity_id BIGINT, canonical STRING (most frequent
    surface, ties broken lexicographically-max), surfaces
    ARRAY<STRING>, n_mentions BIGINT."""
    return labeled.groupBy("entity_id").agg(
        F.max_by("surface", F.struct(F.col("freq"), F.col("surface"))).alias(
            "canonical"
        ),
        F.sort_array(F.collect_set("surface")).alias("surfaces"),
        F.sum("freq").alias("n_mentions"),
    )


def edges_from_labeled(
    labeled: DataFrame, triples: DataFrame, salt_partitions: int = 0
) -> DataFrame:
    """edges: src BIGINT, pred STRING, dst BIGINT, support BIGINT.

    ``salt_partitions`` > 0 enables the J7 hub-entity skew defusal: a
    deterministic salt spreads each hot (src, pred, dst) key over
    ``salt_partitions`` partial counts, then a second (tiny)
    aggregation sums them.  For a plain count, Spark's own map-side
    partial aggregation already bounds what any reducer receives
    (partials, not raw rows), so the salt is belt-and-braces here; it
    becomes load-bearing when the support aggregation grows non-partial
    state (collect_list of provenance urls, exact distinct counts),
    which is the production shape for edge evidence tracking.
    """
    # surface->entity resolution: the surface dimension is much smaller
    # than the triples fact table but NOT guaranteed broadcastable at
    # 10^12 documents, so no forced broadcast hint — AQE converts to a
    # runtime broadcast join whenever the built dimension fits under
    # spark.sql.autoBroadcastJoinThreshold, else shuffles both sides.
    surf2ent = labeled.select("surface", "entity_id")
    t = (
        triples.select("subj", "pred", "obj")
        .join(
            surf2ent.withColumnRenamed("surface", "subj").withColumnRenamed(
                "entity_id", "src"
            ),
            "subj",
        )
        .join(
            surf2ent.withColumnRenamed("surface", "obj").withColumnRenamed(
                "entity_id", "dst"
            ),
            "obj",
        )
    )
    if salt_partitions > 0:
        # two-phase skew-proof aggregation: salt on a deterministic hash
        # of the full row (no rand(): rerun-stable)
        salted = t.withColumn(
            "_salt",
            F.pmod(F.xxhash64("src", "pred", "dst", "subj"), F.lit(salt_partitions)),
        )
        partial = salted.groupBy("src", "pred", "dst", "_salt").agg(
            F.count(F.lit(1)).alias("c")
        )
        return partial.groupBy("src", "pred", "dst").agg(
            F.sum("c").alias("support")
        )
    return t.groupBy("src", "pred", "dst").agg(F.count(F.lit(1)).alias("support"))
