"""Per-layer tracing for one benchmark iteration (``--trace 1``).

Spans are recorded from the benchmark's own files around calls into
each layer's public functions; nothing in the program changes:

* layer entry points (``extract_plane``, ``canonicalize_surfaces``,
  ``surface_nodes``, ``similarity_edges``, ``connected_components``) are
  wrapped for the traced iteration only and restored afterwards; a
  wrapper forces a lazy result (persist + count) so the layer's work
  lands inside its span;
* ``TracingStageStore`` is a ``StageStore`` passed in as ``store``: one
  span per ``StageStore.run``, plus bytes and files written;
* forcing each output (``gold.digest``) is a span of its own.

Each span sets the Spark job group to its layer and the job description
to its name, so the status REST API (the UI runs only in traced runs)
attributes executor time, shuffle bytes, spill, failed tasks and task
skew to layers.  Spans stay in memory and are written out at the end.

Layers (repo modules): ``kernels`` (in-process microbench), ``textplane``
(operators.textplane + operators.extraction), ``stages`` (io.stages),
``canonical`` (operators.canonical), ``pipeline`` (the glue between
them and the triple_set output).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import statistics
import time
import urllib.request

import gold

SPARK_LAYERS = ("textplane", "canonical", "pipeline")
KG_STAGES = ("docs", "sentences", "triples", "mentions", "surfaces", "entities", "edges")
STAGE_LAYER = {
    "docs": "textplane",
    "sentences": "textplane",
    "triples": "textplane",
    "mentions": "textplane",
    "surfaces": "canonical",
    "entities": "canonical",
    "edges": "canonical",
}
OUTPUT_SPAN = {
    "triple_set": ("pipeline.triple_set", "pipeline"),
    "entities": ("canonical.entities", "canonical"),
    "edges": ("canonical.edges", "canonical"),
}
# physical-plan nodes that move rows across the JVM/Python boundary
PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas"
    r"|AggregateInPandas|WindowInPandas|ArrowEvalPythonUDTF|BatchEvalPythonUDTF)\b"
)
KERNEL_PAGES = 200
KERNEL_PASSES = 3
RESUME_STAGES = ("surfaces", "entities", "edges")


def python_crossings(df) -> int:
    """Arrow/Python UDF nodes in the DataFrame's physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return len(PYTHON_NODE.findall(plan))


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []
        self.counts: dict = {}

    def open(self, name: str, layer: str) -> dict:
        span = {
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["name"] if self._stack else None,
            "start": time.time(),
        }
        self._stack.append(span)
        self.sc.setJobGroup(f"trace:{layer}", name, False)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()
        self.spans.append(span)
        outer = self._stack[-1] if self._stack else None
        if outer is None:
            self.sc.setJobGroup("trace:pipeline", "pipeline", False)
        else:
            self.sc.setJobGroup(f"trace:{outer['layer']}", outer["name"], False)

    def add(self, key: str, value) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def span_seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def layer_seconds(self, layer: str) -> float:
        return sum(
            s["end"] - s["start"] for s in self.spans if s["layer"] == layer and s["parent"] is None
        )


def _forced(df, tracer: Tracer, key: str | None = None):
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    n = df.count()
    if key:
        tracer.add(key, n)
    return df


def _instrument(tracer: Tracer) -> list:
    """Wrap the layer entry points; returns the originals to restore."""
    import rex_spark.operators.canonical as canonical
    import rex_spark.operators.extraction as extraction
    import rex_spark.pipeline as pipeline

    def wrap(module, attr, name, layer, after=None):
        original = getattr(module, attr, None)
        if original is None:
            return None

        def traced(*args, **kwargs):
            span = tracer.open(name, layer)
            try:
                out = original(*args, **kwargs)
                return after(out) if after else out
            finally:
                tracer.close(span)

        setattr(module, attr, traced)
        return module, attr, original

    def plane(df):
        tracer.add("python_crossings", python_crossings(df))
        return _forced(df, tracer)

    def components(out):
        comp, iterations = out
        tracer.add("cc_iterations", iterations)
        return _forced(comp, tracer), iterations

    def edges(df):
        tracer.add("distributed", 1)
        return _forced(df, tracer, "similarity_edge_count")

    wrapped = [
        wrap(extraction, "extract_plane", "textplane.extract_plane", "textplane", plane),
        wrap(pipeline, "canonicalize_surfaces", "canonical.canonicalize_surfaces", "canonical"),
        wrap(canonical, "canonicalize_surfaces", "canonical.canonicalize_surfaces", "canonical"),
        wrap(
            canonical,
            "surface_nodes",
            "canonical.surface_nodes",
            "canonical",
            lambda df: _forced(df, tracer),
        ),
        wrap(canonical, "similarity_edges", "canonical.similarity_edges", "canonical", edges),
        wrap(
            canonical,
            "connected_components",
            "canonical.connected_components",
            "canonical",
            components,
        ),
    ]
    original_digest = gold.digest

    def digest(df, table):
        name, layer = OUTPUT_SPAN[table]
        span = tracer.open(name, layer)
        try:
            return original_digest(df, table)
        finally:
            tracer.close(span)

    gold.digest = digest
    return [w for w in wrapped if w] + [(gold, "digest", original_digest)]


def tracing_store(tracer: Tracer):
    """A StageStore that records a span, bytes and files per stage."""
    from rex_spark.io.stages import StageStore

    class TracingStageStore(StageStore):
        def run(self, name, compute, partition_by=None, force=False):
            loaded = self.is_committed(name) and not force
            span = tracer.open(f"stages.{name}", STAGE_LAYER.get(name, "pipeline"))
            try:
                def traced_compute():
                    df = compute()
                    if STAGE_LAYER.get(name) == "textplane":
                        tracer.add("python_crossings", python_crossings(df))
                    return df

                return super().run(name, traced_compute, partition_by=partition_by, force=force)
            finally:
                tracer.close(span)
                if loaded:
                    tracer.add("read_s", span["end"] - span["start"])
                else:
                    files, size = _tree_size(os.path.join(self.root, name))
                    tracer.add("files_written", files)
                    tracer.add("bytes_written", size)

    return TracingStageStore


def _tree_size(path: str):
    files = size = 0
    for d, _subdirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Rest:
    """The Spark status REST API of this application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.sc = sc

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001


def _epoch(stamp: str) -> float:
    return (
        dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def spark_metrics(rest: Rest, t0: float, t1: float) -> dict:
    """Per-layer executor metrics of the traced iteration's jobs, the
    dominant-stage task skew of the edges output, and the iteration's
    wall time not covered by any Spark job (driver idle)."""
    rest.settle()
    jobs = [j for j in rest.get("/jobs") if str(j.get("jobGroup", "")).startswith("trace:")]
    stages = {}
    for s in rest.get("/stages"):
        stages[(s["stageId"], s["attemptId"])] = s
    by_stage: dict = {}
    for (sid, attempt), s in stages.items():
        by_stage.setdefault(sid, []).append(s)

    def skew(stage_list) -> float:
        done = [s for s in stage_list if s.get("status") == "COMPLETE" and s.get("numTasks", 0) > 1]
        if not done:
            return 1.0
        top = max(done, key=lambda s: s.get("executorRunTime", 0))
        q = rest.get(
            f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / max(q[0], 1.0)

    out: dict = {}
    for layer in SPARK_LAYERS:
        ids = {sid for j in jobs if j["jobGroup"] == f"trace:{layer}" for sid in j["stageIds"]}
        rows = [s for sid in ids for s in by_stage.get(sid, [])]
        out[f"{layer}.executor_run_s"] = sum(s.get("executorRunTime", 0) for s in rows) / 1e3
        out[f"{layer}.executor_cpu_s"] = sum(s.get("executorCpuTime", 0) for s in rows) / 1e9
        out[f"{layer}.shuffle_read_bytes"] = sum(s.get("shuffleReadBytes", 0) for s in rows)
        out[f"{layer}.shuffle_write_bytes"] = sum(s.get("shuffleWriteBytes", 0) for s in rows)
        out[f"{layer}.spill_bytes"] = sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in rows
        )
        out[f"{layer}.task_skew"] = skew(rows)
        out[f"{layer}.failed_tasks"] = sum(s.get("numFailedTasks", 0) for s in rows)
    edge_ids = {
        sid
        for j in jobs
        if j.get("description") in ("canonical.edges", "stages.edges")
        for sid in j["stageIds"]
    }
    out["canonical.edges.task_skew"] = skew([s for sid in edge_ids for s in by_stage.get(sid, [])])

    # union of job intervals clipped to the iteration
    intervals = sorted(
        (max(_epoch(j["submissionTime"]), t0), min(_epoch(j["completionTime"]), t1))
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    )
    covered, end = 0.0, t0
    for a, b in intervals:
        if b > end:
            covered += b - max(a, end)
            end = b
    out["pipeline.driver_idle_s"] = (t1 - t0) - covered
    return out


def kernel_microbench(seed: int) -> dict:
    """Per-page cost of each text-plane kernel, in-process on one core,
    over a fixed sample of pages made from the seed (median of passes)."""
    from rex_spark.kernels.extractor import extract_mentions, extract_sentence
    from rex_spark.kernels.synth import make_page
    from rex_spark.kernels.textnorm import html_to_text, sent_seg, tokenize

    pages = [make_page(i, seed=seed)[0] for i in range(KERNEL_PAGES)]
    langs = ["zh" if p["lang"] == "zh" else "en" for p in pages]
    texts = [html_to_text(p["html"]) for p in pages]
    sents = [(s, lang) for t, lang in zip(texts, langs) for s in sent_seg(t, lang=lang)]
    tokens = [tokenize(s, lang=lang) for s, lang in sents]

    def chain():
        for p, lang in zip(pages, langs):
            for s in sent_seg(html_to_text(p["html"]), lang=lang):
                toks = tokenize(s, lang=lang)
                extract_mentions(toks)
                extract_sentence(toks, max_pairs=400)

    kernels = {
        "html_to_text": lambda: [html_to_text(p["html"]) for p in pages],
        "sent_seg": lambda: [sent_seg(t, lang=lang) for t, lang in zip(texts, langs)],
        "tokenize": lambda: [tokenize(s, lang=lang) for s, lang in sents],
        "extract_mentions": lambda: [extract_mentions(t) for t in tokens],
        "extract_sentence": lambda: [extract_sentence(t, max_pairs=400) for t in tokens],
        "chain": chain,
    }
    out = {}
    for name, fn in kernels.items():
        passes = []
        for _ in range(KERNEL_PASSES):
            t0 = time.perf_counter()
            fn()
            passes.append(time.perf_counter() - t0)
        out[f"kernels.{name}.us_per_page"] = statistics.median(passes) / KERNEL_PAGES * 1e6
    return out


def traced_metrics(spark, workload, inputs: str, want: dict, untraced_wall: float, drift: float):
    """One traced iteration; returns (per-layer metrics, errors, spans)."""
    from workloads import CanonOpenVocab, KgStore, KgWorkload, check

    metrics = kernel_microbench(workload.seed)
    tracer = Tracer(spark)
    rest = Rest(spark)
    restore = _instrument(tracer)
    store_cls = tracing_store(tracer)
    try:
        spark.sparkContext.setJobGroup("trace:pipeline", "pipeline", False)
        t0 = time.time()
        result = workload.iterate(inputs, store_factory=store_cls)
        t1 = time.time()
    finally:
        for module, attr, original in restore:
            setattr(module, attr, original)
        spark.sparkContext.setJobGroup("", "", False)
    errors = check(result, want)
    metrics.update(spark_metrics(rest, t0, t1))
    wall = t1 - t0

    rows = {"sentences": 0, "mentions": 0, "triples": 0}
    if isinstance(workload, KgWorkload):
        last = workload.last_result
        rows = {k: last[k].count() for k in rows}
    counts = tracer.counts
    text_wall = tracer.layer_seconds("textplane")
    chain_s = metrics["kernels.chain.us_per_page"] * 1e-6
    cores = spark.sparkContext.defaultParallelism
    metrics.update(
        {
            "textplane.wall_s": text_wall,
            "textplane.python_crossings": counts.get("python_crossings", 0),
            # share of the text-plane wall not explained by kernel CPU
            # spread over all cores: 1 - chain_cpu * pages / cores / wall
            "textplane.arrow_overhead_frac": (
                1 - chain_s * workload.rows() / cores / text_wall if rows["sentences"] and text_wall else 0.0
            ),
            **{f"textplane.{k}": v for k, v in rows.items()},
            **{f"stages.{s}.wall_s": tracer.span_seconds(f"stages.{s}") for s in KG_STAGES},
            "stages.bytes_written": counts.get("bytes_written", 0),
            "stages.files_written": counts.get("files_written", 0),
            "canonical.wall_s": tracer.layer_seconds("canonical"),
            **{
                f"{name}.wall_s": tracer.span_seconds(name)
                for name in (
                    "canonical.surface_nodes",
                    "canonical.similarity_edges",
                    "canonical.connected_components",
                    "canonical.entities",
                    "canonical.edges",
                )
            },
            "canonical.cc_iterations": counts.get("cc_iterations", 0),
            "canonical.surfaces": _surfaces(spark, workload, inputs),
            "canonical.similarity_edge_count": counts.get("similarity_edge_count", 0),
            "canonical.components": result["entities"][0],
            "canonical.distributed": counts.get("distributed", 0),
            "pipeline.wall_s": wall,
            "pipeline.triple_set.wall_s": tracer.span_seconds("pipeline.triple_set"),
            # top-level layer spans over the traced wall (the rest is
            # plan building between them)
            "pipeline.span_coverage": sum(
                s["end"] - s["start"] for s in tracer.spans if s["parent"] is None
            )
            / wall,
            "pipeline.tracing_overhead_s": wall - untraced_wall,
            "pipeline.drift": drift,
        }
    )
    # the path each workload exists for: distributed similarity edges
    # and the iterative connected-components loop on the open vocabulary,
    # the driver escape on the gazetteer
    distributed = isinstance(workload, CanonOpenVocab)
    if metrics["canonical.distributed"] != distributed or (
        distributed and metrics["canonical.cc_iterations"] < 1
    ):
        errors.append(
            f"{workload.name}: canonical.distributed={metrics['canonical.distributed']} "
            f"cc_iterations={metrics['canonical.cc_iterations']}, want distributed={int(distributed)}"
        )
    spark.catalog.clearCache()

    # resume path: decommit the stages downstream of the text plane and
    # rerun on the committed store (StageStore reads)
    read_s = resume_s = 0.0
    if isinstance(workload, KgStore):
        from rex_spark.io.stages import StageStore

        root = workload.store_root(workload.stores)
        plain = StageStore(spark, root)
        for stage in RESUME_STAGES:
            plain.decommit(stage)
        resume_tracer = Tracer(spark)
        t = time.perf_counter()
        resumed = workload.run(inputs, tracing_store(resume_tracer)(spark, root))
        got = {table: gold.digest(resumed[table], table) for table in want}
        resume_s = time.perf_counter() - t
        errors += check(got, want)
        read_s = resume_tracer.counts.get("read_s", 0.0)
        spark.sparkContext.setJobGroup("", "", False)
    workload.cleanup()
    metrics["stages.read_s"] = read_s
    metrics["stages.resume_wall_s"] = resume_s
    return metrics, errors, tracer.spans


def _surfaces(spark, workload, inputs: str) -> int:
    from workloads import KgWorkload

    if isinstance(workload, KgWorkload):
        return workload.last_result["mentions"].select("surface").distinct().count()
    return spark.read.parquet(os.path.join(inputs, "mentions")).select("surface").distinct().count()


def unit(metric: str) -> str:
    if metric.endswith(".us_per_page"):
        return "us"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes") or metric.endswith("bytes_written"):
        return "bytes"
    if metric.endswith(("_frac", "coverage", "skew", "drift")):
        return "ratio"
    return "count"
