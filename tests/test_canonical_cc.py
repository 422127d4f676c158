"""Connected components: the driver union-find fast path and the
iterative large-star/small-star DataFrame loop must label identically
(component = min node id), including on a skewed hub graph, wherever
the loop hands over to the driver finish."""

import random

import pytest
from conftest import spark_jobs

from rex_spark.operators.canonical import connected_components

# _hub_graph: 384 nodes in 4 components, so its star forest has 380
# edges; the canonical input has 582 (the chords close cycles)
HUB_FOREST_EDGES = 380
HUB_INPUT_EDGES = 582


def _hub_graph():
    rng = random.Random(7)
    edges = []
    # one hub component (star with 200 spokes — the Zipfian head case)
    for i in range(1, 201):
        edges.append((i * 7, 0) if i % 2 else (0, i * 7))
    # three long chains (worst case for naive propagation)
    for base in (10_000, 20_000, 30_000):
        for i in range(60):
            edges.append((base + i, base + i + 1))
    # chords: a ring through the spokes and each chain closed into a
    # cycle, so the input has more edges than its star forest
    edges += [(i * 7, (i + 1) * 7) for i in range(1, 200)]
    edges += [(base + 60, base) for base in (10_000, 20_000, 30_000)]
    # self-loops and duplicates must be ignored
    edges += [(0, 0), (10_000, 10_001), (10_001, 10_000)]
    rng.shuffle(edges)
    return edges


def test_cc_driver_vs_distributed(spark):
    df = spark.createDataFrame(_hub_graph(), "a long, b long")
    drv, it_drv = connected_components(df)
    dist, it_dist = connected_components(df, driver_max_edges=0)
    assert it_drv == 0  # small graph takes the driver path
    assert it_dist >= 1  # forced distributed loop
    assert sorted(map(tuple, drv.collect())) == sorted(map(tuple, dist.collect()))


def test_cc_labels_are_component_min(spark):
    df = spark.createDataFrame(_hub_graph(), "a long, b long")
    comp, _ = connected_components(df)
    rows = comp.collect()
    labels = {r["node_id"]: r["component"] for r in rows}
    # hub component min is 0; each chain's min is its base
    assert labels[7] == 0 and labels[1400] == 0
    for base in (10_000, 20_000, 30_000):
        assert labels[base + 60] == base
    # every component id is itself labeled with itself
    for node, c in labels.items():
        assert labels.get(c, c) == c


def test_cc_reliable_checkpoint_matches(spark, tmp_path):
    """checkpoint_dir= switches the loop's per-round materialization to
    reliable .checkpoint() (the 100x-deployment answer to executor
    loss); components must be identical to the localCheckpoint path and
    the checkpoint data must actually land in the directory."""
    import os

    df = spark.createDataFrame(_hub_graph(), "a long, b long")
    ckpt = str(tmp_path / "cc_ckpt")
    rel, it_rel = connected_components(
        df, driver_max_edges=0, checkpoint_dir=ckpt
    )
    local, _ = connected_components(df, driver_max_edges=0)
    assert it_rel >= 1
    assert sorted(map(tuple, rel.collect())) == sorted(
        map(tuple, local.collect())
    )
    # reliable blocks were written (an RDD checkpoint dir per round)
    assert os.path.isdir(ckpt) and len(os.listdir(ckpt)) > 0


def _labels(spark, **kwargs):
    """(sorted labels, iterations, Spark jobs) of one call on the hub
    graph."""
    df = spark.createDataFrame(_hub_graph(), "a long, b long")
    (comp, iterations), jobs = spark_jobs(
        spark, lambda: connected_components(df, **kwargs)
    )
    return sorted(map(tuple, comp.collect())), iterations, jobs


@pytest.mark.parametrize("reliable", [False, True], ids=["local", "checkpoint_dir"])
def test_cc_rounds_then_driver_finish(spark, tmp_path, reliable):
    """A threshold between the star forest's and the input's edge count:
    the input does not fit, so at least one distributed round runs, and
    the loop hands the round's edges to driver union-find before the
    digest could see convergence.  Labels equal the fully distributed
    loop's and the driver path's.  Each materialization observes its
    count and digest in the job that writes it: 2 jobs for the input,
    8 per round (AQE stages plus the checkpoint), 1 for the finish's
    collect, and no job of its own for a digest or a size probe."""
    kwargs = {"checkpoint_dir": str(tmp_path / "cc_ckpt")} if reliable else {}
    mid = (HUB_FOREST_EDGES + HUB_INPUT_EDGES) // 2
    finished, it_mid, jobs_mid = _labels(spark, driver_max_edges=mid, **kwargs)
    looped, it_loop, jobs_loop = _labels(spark, driver_max_edges=0, **kwargs)
    default, it_default, _ = _labels(spark, **kwargs)
    assert (it_mid, it_loop, it_default) == (1, 7, 0)
    assert (jobs_mid, jobs_loop) == (2 + 8 * 1 + 1, 2 + 8 * 7)
    assert finished == looped == default
    assert len(default) == 384 and {c for _, c in default} == {
        0, 10_000, 20_000, 30_000
    }


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "a long, b long")
    comp, _ = connected_components(df)
    assert comp.count() == 0


def test_driver_canonicalization_matches_distributed(spark):
    """The driver-side small-vocabulary canonicalization (same kernels,
    same banding) must produce exactly the distributed path's labels."""
    from rex_spark.operators.canonical import canonicalize_surfaces
    from rex_spark.operators.extraction import extract_plane, plane_mentions
    from rex_spark.pipeline import build_pages_df

    mentions = plane_mentions(
        extract_plane(build_pages_df(spark, 100, seed=42), include_text=False)
    )
    drv = canonicalize_surfaces(spark, mentions)
    dist = canonicalize_surfaces(spark, mentions, driver_max_surfaces=0)
    assert sorted(map(tuple, drv.collect())) == sorted(map(tuple, dist.collect()))


# Spark jobs per canonicalize_surfaces call on _surface_mentions: two
# materialize the vocabulary (its shuffle stage, then the checkpoint
# whose job counts it); the escape adds one collect.  The distributed
# path adds one for the LSH table's checkpoint, nine for connected
# components (the AQE stages of the lazy similarity edges, band join
# included, under the checkpoint of its input, then the driver
# union-find's collect) and two for the labels' checkpoint.
ESCAPE_JOBS = 2 + 1
DISTRIBUTED_JOBS = 2 + 1 + 9 + 2


def _surface_mentions(spark):
    """60 groups x 4 variants: a 240-surface vocabulary linked by
    exact-norm and LSH edges."""
    from tools.cc_soak import build_surface_mentions

    return build_surface_mentions(spark, 60)


@pytest.mark.parametrize(
    "driver_max, distributed",
    [(lambda n: n, False), (lambda n: n - 1, True), (lambda n: 0, True)],
    ids=["fits", "one_over", "zero"],
)
def test_canonicalize_path_from_one_vocabulary_count(
    spark, monkeypatch, driver_max, distributed
):
    """The vocabulary is built and counted once: a threshold equal to
    its size takes the in-process escape, one less (or 0) the
    distributed similarity edges, and both give the default call's
    labels.  Pins the jobs of each path."""
    import rex_spark.operators.canonical as canonical

    mentions = _surface_mentions(spark)
    n = mentions.distinct().count()
    default = canonical.canonicalize_surfaces(spark, mentions)
    default = sorted(map(tuple, default.collect()))
    calls = []
    original = canonical.similarity_edges

    def spy(*args):
        calls.append(args)
        return original(*args)

    monkeypatch.setattr(canonical, "similarity_edges", spy)
    labeled, jobs = spark_jobs(
        spark,
        lambda: canonical.canonicalize_surfaces(
            spark, mentions, driver_max_surfaces=driver_max(n)
        ),
    )
    assert (len(calls), jobs) == (
        (1, DISTRIBUTED_JOBS) if distributed else (0, ESCAPE_JOBS)
    )
    assert sorted(map(tuple, labeled.collect())) == default
    assert len(default) == n == 240


@pytest.mark.parametrize("driver_max", [None, 0], ids=["default", "zero"])
def test_canonicalize_empty_vocabulary(spark, driver_max):
    from rex_spark.operators.canonical import canonicalize_surfaces

    mentions = spark.createDataFrame([], "surface string")
    labeled = canonicalize_surfaces(spark, mentions, driver_max_surfaces=driver_max)
    assert labeled.count() == 0
    assert labeled.columns == ["surface", "freq", "node_id", "entity_id"]


def test_salted_collect_slice_matches_unsalted(spark):
    """The two-phase salted distinct-collect must equal the direct
    aggregation exactly, including on a heavily skewed key."""
    import random

    from rex_spark.operators.skew import salted_collect_slice

    rng = random.Random(3)
    rows = [("hub", rng.randint(0, 40)) for _ in range(5000)]
    rows += [(f"k{i%7}", rng.randint(0, 1000)) for i in range(300)]
    rows += [("hub", None), ("k0", None)]  # NULL items: dropped from the
    # slice (collect_set semantics) but still counted in support
    df = spark.createDataFrame(rows, "key string, item long")
    a = salted_collect_slice(df, ["key"], "item", k=5, salt_partitions=0)
    b = salted_collect_slice(df, ["key"], "item", k=5, salt_partitions=16)
    ra = {r["key"]: (list(r["items"]), r["support"]) for r in a.collect()}
    rb = {r["key"]: (list(r["items"]), r["support"]) for r in b.collect()}
    assert ra == rb
    assert ra["hub"][1] == 5001 and len(ra["hub"][0]) == 5

    # the GROUPED_MAP form (no JVM partials — the case the salt is FOR)
    # must produce the identical contract, salted and direct
    from rex_spark.operators.skew import salted_udf_collect_slice

    c = salted_udf_collect_slice(df, ["key"], "item", k=5, salt_partitions=0)
    d = salted_udf_collect_slice(df, ["key"], "item", k=5, salt_partitions=16)
    rc = {r["key"]: (list(r["items"]), r["support"]) for r in c.collect()}
    rd = {r["key"]: (list(r["items"]), r["support"]) for r in d.collect()}
    assert rc == ra and rd == ra
