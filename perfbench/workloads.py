"""The benchmark's workloads: input tables, one iteration, and its gold.

Each workload is driven as a single-driver closed loop: the next
iteration starts only when the previous one has forced all of its
outputs.  The program under test only ever receives the generated
input tables (parquet files written during set-up).

kg_store          pages table -> run_pipeline with a fresh parquet StageStore
                  per iteration, with the arguments jobs/kg_job.py derives
                  from load_config() defaults: the job users run.  Its text
                  plane makes four Arrow crossings and every stage writes
                  data plus lineage.
kg_fused          the same table -> run_pipeline(store=None): the
                  one-crossing fused text plane without a StageStore (the
                  text-plane / kernel workload, and the "no change"
                  workload for any StageStore change).
canon_open_vocab  an open surface vocabulary (4 variants per entity group,
                  Zipf mention counts with a 10% head entity) and triples
                  drawn over it -> canonicalize_surfaces ->
                  entities_from_labeled -> edges_from_labeled: the
                  distributed MinHash-LSH + connected-components graph
                  plane.  No text plane.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import functions as F

import gold
from tools.cc_soak import zipf_counts

# kg_* input size.  A kg_store iteration takes about as long at 1000
# pages as at 4000 (measured ~7 s on 4 cores): the fixed cost of its
# ~25 Spark jobs dominates, so a smaller input buys no more iterations
# per run.
KG_PAGES = 4000

# canon_open_vocab: entity groups of 4 surface variants each.  With the
# engine's production escape thresholds (DRIVER_CANON_MAX_SURFACES,
# DRIVER_CC_MAX_EDGES), a vocabulary takes both distributed paths from
# about 40k groups on (~5 similarity edges per group), and one call then
# takes ~40 s on 4 cores.  The benchmark runs 1/THRESHOLD_SCALE of a
# 48k-group vocabulary and divides both thresholds by the same factor,
# so both distributed paths run (set-up checks it against the gold's
# surface and edge counts) at a size that fits several iterations per
# run.  MAX_BUCKET is not scaled: the small vocabulary has no bucket
# above it, so its LSH self-join checks fewer candidate pairs per
# surface than the 48k one does (about 12 against 30) and verifies the
# same number of edges per surface (1.24), while a cap scaled by 1/48
# would cut candidates to ~2 per surface.
CANON_GROUPS = 1000
THRESHOLD_SCALE = 48
SCALED_THRESHOLDS = ("DRIVER_CANON_MAX_SURFACES", "DRIVER_CC_MAX_EDGES")
CANON_PREDICATES = ("acquired", "founded_by", "located_in", "partner_of", "works_for")

KG_OUTPUTS = ("triple_set", "entities", "edges")


def pipeline_kwargs() -> dict:
    """run_pipeline arguments exactly as jobs/kg_job.py derives them
    from load_config() defaults."""
    from rex_spark.config import load_config

    cfg = load_config()
    return dict(
        salt_partitions=cfg.salt_partitions,
        include_sentence_text=cfg.include_sentence_text,
        score_threshold=cfg.score_threshold,
        driver_max_surfaces=cfg.driver_max_surfaces,
        extractor=cfg.extractor,
        doc_filters=cfg.doc_filters(),
    )


def check(got: dict, want: dict) -> list:
    """Correctness errors of one iteration (empty when correct)."""
    return [
        f"{table}: got {got[table]} want {want[table]}"
        for table in got
        if list(got[table]) != list(want[table])
    ]


class Workload:
    name = ""
    size = 0  # main input size (pages or entity groups)

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def rows(self) -> int:
        """Input rows one iteration processes (the throughput base)."""
        raise NotImplementedError

    def build_inputs(self, directory: str, size: int) -> None:
        """Write the input tables for ``size`` from the seed."""
        raise NotImplementedError

    def gold(self, directory: str) -> dict:
        """Digests every iteration over the main inputs must reproduce."""
        raise NotImplementedError

    def check_gold(self, want: dict) -> None:
        """Raise if the inputs do not exercise what the workload is for."""

    def iterate(self, directory: str, store_factory=None) -> dict:
        """Run the program once on the inputs in ``directory`` and force
        every output; returns the outputs' digests."""
        raise NotImplementedError

    def cleanup(self) -> None:
        """Drop per-iteration state, outside the timed region."""
        self.spark.catalog.clearCache()


class KgWorkload(Workload):
    size = KG_PAGES

    def rows(self) -> int:
        return self.size

    def gold_key(self) -> str:
        return f"kg_{self.size}_{self.seed}"

    def build_inputs(self, directory: str, size: int) -> None:
        from rex_spark.pipeline import build_pages_df_distributed

        parts = 2 * self.spark.sparkContext.defaultParallelism
        build_pages_df_distributed(
            self.spark, size, seed=self.seed, partitions=parts
        ).write.mode("overwrite").parquet(os.path.join(directory, "pages"))

    def gold(self, directory: str) -> dict:
        import pyarrow.parquet as pq

        table = pq.read_table(os.path.join(directory, "pages"), columns=["url", "html", "lang"])
        g = gold.kg_gold(zip(*(table.column(c).to_pylist() for c in ("url", "html", "lang"))))
        ids = gold.node_ids(self.spark, sorted(g["surface_freq"]))
        labels = gold.canonical_labels(ids, gold.similarity_edges(ids))
        return {
            "triple_set": gold.gold_digest(self.spark, "triple_set", g["triple_set"]),
            "entities": gold.gold_digest(
                self.spark, "entities", gold.entity_rows(labels, g["surface_freq"])
            ),
            "edges": gold.gold_digest(self.spark, "edges", gold.edge_rows(labels, g["triple_rows"])),
        }

    def store(self, store_factory):
        return None

    def run(self, directory: str, store):
        from rex_spark.pipeline import run_pipeline

        pages = self.spark.read.parquet(os.path.join(directory, "pages"))
        return run_pipeline(self.spark, pages, store=store, **pipeline_kwargs())

    def iterate(self, directory: str, store_factory=None) -> dict:
        result = self.last_result = self.run(directory, self.store(store_factory))
        return {table: gold.digest(result[table], table) for table in KG_OUTPUTS}


class KgFused(KgWorkload):
    name = "kg_fused"


class KgStore(KgWorkload):
    name = "kg_store"

    def __init__(self, *args):
        super().__init__(*args)
        self.stores = 0

    def store_root(self, n: int) -> str:
        return os.path.join(self.work, "stores", str(n))

    def store(self, store_factory):
        from rex_spark.io.stages import StageStore

        # an empty stage root per iteration: a reused root would
        # silently measure resume instead of the full job
        self.stores += 1
        return (store_factory or StageStore)(self.spark, self.store_root(self.stores))

    def cleanup(self) -> None:
        super().cleanup()
        shutil.rmtree(os.path.join(self.work, "stores"), ignore_errors=True)


class CanonOpenVocab(Workload):
    """Surface of group g, variant v: "<hex12> corp", "<hex12>
    corporation", "<hex12> corp." and "the <hex12> corp" with hex12 =
    md5("<seed>:<g>")[:12].  Group g has zipf_counts(n)[g] mention rows
    (variant = row index mod 4); each mention row also yields one triple
    whose object is a surface of group (7919 g + 104729 m + salt) mod n,
    so the head entity dominates the edges' subjects as well."""

    name = "canon_open_vocab"
    size = CANON_GROUPS

    def __init__(self, *args):
        super().__init__(*args)
        import rex_spark.operators.canonical as canonical

        for name in SCALED_THRESHOLDS:
            setattr(canonical, name, getattr(canonical, name) // THRESHOLD_SCALE)

    def rows(self) -> int:
        return int(zipf_counts(self.size).sum())

    def gold_key(self) -> str:
        return f"canon_{self.size}_{self.seed}"

    @property
    def salt(self) -> int:
        # bounded, so the JVM-side long arithmetic cannot overflow
        return self.seed % 1_000_003

    def _obj_group(self, g, m, n):
        return (g * 7919 + m * 104729 + self.salt) % n

    def build_inputs(self, directory: str, size: int) -> None:
        # long arithmetic: the object-group formula overflows int for
        # the head group's mention indices at larger sizes
        gid, m = F.col("gid"), F.col("m").cast("long")
        head = int(zipf_counts(size)[0])
        count = F.when(gid == 0, F.lit(head)).otherwise(
            F.greatest(F.lit(4), F.floor(F.lit(float(size)) / (gid + 1)).cast("long"))
        )
        rows = self.spark.range(size).select(F.col("id").alias("gid")).select(
            gid, F.explode(F.sequence(F.lit(0), (count - 1).cast("int"))).alias("m")
        )

        def surface(group, variant):
            hex12 = F.substring(
                F.md5(F.concat(F.lit(f"{self.seed}:"), group.cast("string"))), 1, 12
            )
            return (
                F.when(variant == 0, F.concat(hex12, F.lit(" corp")))
                .when(variant == 1, F.concat(hex12, F.lit(" corporation")))
                .when(variant == 2, F.concat(hex12, F.lit(" corp.")))
                .otherwise(F.concat(F.lit("the "), hex12, F.lit(" corp")))
            )

        subj = surface(gid, F.pmod(m, F.lit(4)))
        rows.select(subj.alias("surface")).write.mode("overwrite").parquet(
            os.path.join(directory, "mentions")
        )
        preds = F.array(*[F.lit(p) for p in CANON_PREDICATES])
        pred_idx = F.pmod(gid + m, F.lit(len(CANON_PREDICATES))) + 1
        obj_gid = F.pmod(gid * 7919 + m * 104729 + F.lit(self.salt), F.lit(size))
        rows.select(
            subj.alias("subj"),
            F.element_at(preds, pred_idx.cast("int")).alias("pred"),
            surface(obj_gid, F.pmod(m + 1, F.lit(4))).alias("obj"),
        ).write.mode("overwrite").parquet(os.path.join(directory, "triples"))

    def gold(self, directory: str) -> dict:
        from collections import Counter

        n = self.size
        names = []
        for g in range(n):
            h = hashlib.md5(f"{self.seed}:{g}".encode()).hexdigest()[:12]
            names.append((f"{h} corp", f"{h} corporation", f"{h} corp.", f"the {h} corp"))
        freq: Counter = Counter()
        triple_rows: Counter = Counter()
        for g, c in enumerate(zipf_counts(n)):
            for m in range(c):
                subj = names[g][m % 4]
                freq[subj] += 1
                pred = CANON_PREDICATES[(g + m) % len(CANON_PREDICATES)]
                triple_rows[(subj, pred, names[self._obj_group(g, m, n)][(m + 1) % 4])] += 1
        ids = gold.node_ids(self.spark, sorted(freq))
        edges = gold.similarity_edges(ids)
        labels = gold.canonical_labels(ids, edges)
        return {
            # the entity count is the exact replica's component count
            "entities": gold.gold_digest(self.spark, "entities", gold.entity_rows(labels, freq)),
            "edges": gold.gold_digest(self.spark, "edges", gold.edge_rows(labels, triple_rows)),
            "surfaces": len(ids),
            "similarity_edges": len(edges),
        }

    def check_gold(self, want: dict) -> None:
        import rex_spark.operators.canonical as canonical

        # both escapes compare with "<=": the distributed paths run only
        # above the (scaled) thresholds
        counts = {
            "DRIVER_CANON_MAX_SURFACES": want["surfaces"],
            "DRIVER_CC_MAX_EDGES": want["similarity_edges"],
        }
        for name, count in counts.items():
            if count <= getattr(canonical, name):
                raise RuntimeError(
                    f"{self.name}: {count} is not above {name}={getattr(canonical, name)}, "
                    "so the driver escape would run instead of the distributed path"
                )

    def labeled(self, directory: str):
        from rex_spark.operators.canonical import canonicalize_surfaces

        mentions = self.spark.read.parquet(os.path.join(directory, "mentions"))
        return canonicalize_surfaces(self.spark, mentions)

    def iterate(self, directory: str, store_factory=None) -> dict:
        from rex_spark.config import load_config
        from rex_spark.operators.canonical import edges_from_labeled, entities_from_labeled

        labeled = self.labeled(directory)
        triples = self.spark.read.parquet(os.path.join(directory, "triples"))
        edges = edges_from_labeled(
            labeled, triples, salt_partitions=load_config().salt_partitions
        )
        return {
            "entities": gold.digest(entities_from_labeled(labeled), "entities"),
            "edges": gold.digest(edges, "edges"),
        }


# kg_fused is not in BENCHMARK.json: a full benchmark pass (22 runs per
# workload, ~50 s each) must stay under an hour, which holds two
# workloads.  It stays runnable for same-host comparisons of the planes.
WORKLOADS = {w.name: w for w in (KgStore, CanonOpenVocab, KgFused)}
