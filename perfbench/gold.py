"""In-process gold for the benchmark's correctness gate.

Everything here runs on the driver in plain Python, never through a
Spark plan, so it checks the engine's distributed output against an
independent computation:

* ``kg_gold`` walks every page of the pages table through the scalar
  kernels (``html_to_text`` -> ``extract_document``, the recipe of
  tests/test_pipeline_e2e.py) and derives the document triple set, the
  surface frequencies and the per-sentence triple rows;
* ``similarity_edges`` is an exact replica of the graph plane's edge
  logic (KB alias, exact normalized form, MinHash-LSH banding with the
  degenerate-bucket cap, exact-Jaccard verification), and
  ``canonical_labels`` runs union-find over it, labelling every surface
  with its component's minimum node id;
* ``entity_rows`` / ``edge_rows`` turn those labels into the rows that
  ``entities_from_labeled`` / ``edges_from_labeled`` must produce.

Digests of the gold rows are computed with the same Spark expressions
as the engine's outputs (``digest``), so equality is exact.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# order-independent fingerprint of each output table: (rows, bit_xor of
# a 64-bit row hash); every column that defines the row takes part
DIGEST_COLUMNS = {
    "triple_set": lambda: [F.col("url"), F.col("subj"), F.col("pred"), F.col("obj")],
    "entities": lambda: [
        F.col("entity_id"),
        F.col("canonical"),
        F.concat_ws("\x01", F.col("surfaces")),
        F.col("n_mentions"),
    ],
    "edges": lambda: [F.col("src"), F.col("pred"), F.col("dst"), F.col("support")],
}

GOLD_SCHEMAS = {
    "triple_set": "url string, subj string, pred string, obj string",
    "entities": "entity_id long, canonical string, surfaces array<string>, n_mentions long",
    "edges": "src long, pred string, dst long, support long",
}


def digest(df: DataFrame, table: str) -> list:
    """[row count, bit_xor(xxhash64(row))] — one aggregation job."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*DIGEST_COLUMNS[table]())).alias("h"),
    ).first()
    return [int(row["n"]), int(row["h"] or 0)]


def node_ids(spark, surfaces) -> dict:
    """surface -> Spark ``xxhash64(surface)``, the engine's node id."""
    df = spark.createDataFrame([(s,) for s in surfaces], "surface string")
    return {
        r["surface"]: r["node_id"]
        for r in df.select("surface", F.xxhash64("surface").alias("node_id")).collect()
    }


def kg_gold(pages) -> dict:
    """pages: iterable of (url, html, lang).  Returns the document
    triple set, mention frequency per surface and per-(subj, pred, obj)
    sentence-row counts (the rows edges_from_labeled aggregates)."""
    from rex_spark.kernels.extractor import extract_document, extract_mentions
    from rex_spark.kernels.textnorm import html_to_text

    triple_set = set()
    surface_freq: Counter = Counter()
    triple_rows: Counter = Counter()
    for url, html, lang in pages:
        text = html_to_text(html) if html is not None else ""
        for _sid, _sent, tokens, triples in extract_document(text, lang or "en"):
            for m in extract_mentions(tokens):
                surface_freq[m[0]] += 1
            for t in triples:
                triple_set.add((url, t[0], t[1], t[2]))
                triple_rows[(t[0], t[1], t[2])] += 1
    return {
        "triple_set": sorted(triple_set),
        "surface_freq": dict(surface_freq),
        "triple_rows": dict(triple_rows),
    }


def similarity_edges(ids: dict) -> set:
    """Exact replica of the graph plane's edge set over ``ids`` (surface
    -> node id): every edge as a (smaller, larger) node-id pair, the
    form connected_components deduplicates and counts."""
    import numpy as np

    from rex_spark.kernels import kb
    from rex_spark.kernels.hashing import band_keys_batch, minhash_params, minhash_signatures_batch
    from rex_spark.kernels.textnorm import char_shingles
    from rex_spark.operators.canonical import JACCARD_THRESHOLD, MAX_BUCKET, NUM_BANDS, NUM_PERM
    from rex_spark.oracle_gold import normalize_surface_py

    edges = set()

    def link_to_min(members):
        rep = min(members)
        edges.update((rep, m) for m in members if m != rep)

    # (a) KB alias table
    for _canonical, (_etype, surfaces) in kb.ENTITIES.items():
        linked = []
        for s in surfaces:
            surf = " ".join(s.split()) if not kb._is_zh(s) else " ".join(s)
            if surf in ids:
                linked.append(ids[surf])
        if linked:
            link_to_min(linked)

    # (b) exact normalized form
    norm = {s: normalize_surface_py(s) for s in ids}
    by_norm: dict = {}
    for s, n in norm.items():
        by_norm.setdefault(n, []).append(ids[s])
    for members in by_norm.values():
        link_to_min(members)

    # (c) MinHash-LSH buckets, degenerate buckets dropped, exact Jaccard
    shingled = [(ids[s], set(char_shingles(n, 3))) for s, n in norm.items()]
    shingled = [(nid, sh) for nid, sh in shingled if sh]
    if shingled:
        sigs = minhash_signatures_batch([sh for _, sh in shingled], minhash_params(NUM_PERM))
        keys = band_keys_batch(sigs, NUM_BANDS).view(np.int64).reshape(-1, NUM_BANDS)
        buckets: dict = {}
        for i in range(len(shingled)):
            for b in range(NUM_BANDS):
                buckets.setdefault((b, int(keys[i, b])), []).append(i)
        checked = set()
        for members in buckets.values():
            if len(members) < 2 or len(members) > MAX_BUCKET:
                continue
            for x, y in combinations(members, 2):
                if (x, y) in checked:
                    continue
                checked.add((x, y))
                (nx, shx), (ny, shy) = shingled[x], shingled[y]
                if nx != ny and len(shx & shy) / len(shx | shy) >= JACCARD_THRESHOLD:
                    edges.add((min(nx, ny), max(nx, ny)))
    return edges


def canonical_labels(ids: dict, edges: set) -> dict:
    """Union-find over the replica's edges: surface -> entity id (the
    min node id of its connected component), as canonicalize_surfaces
    labels them."""
    parent = {nid: nid for nid in ids.values()}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {s: find(nid) for s, nid in ids.items()}


def entity_rows(labels: dict, surface_freq: dict) -> list:
    members: dict = {}
    for s, eid in labels.items():
        members.setdefault(eid, []).append(s)
    rows = []
    for eid, surfaces in members.items():
        canonical = max(surfaces, key=lambda s: (surface_freq[s], s))
        rows.append((eid, canonical, sorted(surfaces), sum(surface_freq[s] for s in surfaces)))
    return rows


def edge_rows(labels: dict, triple_rows: dict) -> list:
    support: Counter = Counter()
    for (subj, pred, obj), n in triple_rows.items():
        if subj in labels and obj in labels:
            support[(labels[subj], pred, labels[obj])] += n
    return [(src, pred, dst, n) for (src, pred, dst), n in support.items()]


def gold_digest(spark, table: str, rows: list) -> list:
    return digest(spark.createDataFrame(rows, GOLD_SCHEMAS[table]), table)


def source_digest(root: str, names) -> str:
    """Hash of the Python sources at ``names`` (files or directories
    under ``root``): the gold depends on the engine's kernels and
    constants and on the workload generators, so a change to any of
    them must not reuse a digest computed from the old code."""
    files = []
    for name in names:
        path = os.path.join(root, name)
        if os.path.isfile(path):
            files.append(path)
        for d, subdirs, entries in os.walk(path):
            subdirs.sort()
            files.extend(os.path.join(d, e) for e in sorted(entries) if e.endswith(".py"))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


class DigestCache:
    """Gold digests cached on disk by workload key (input size, seed)
    and by the digest of the sources the gold is computed from."""

    def __init__(self, directory: str, sources: str):
        self.directory = directory
        self.sources = sources

    def get(self, key: str, compute) -> dict:
        path = os.path.join(self.directory, f"{key}_{self.sources}.json")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                return json.load(fh)
        value = compute()
        os.makedirs(self.directory, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(value, fh)
        os.replace(tmp, path)
        return value
