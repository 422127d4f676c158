"""StageStore commit cost and footer lineage.

A parquet stage commits with one Spark job (the data write) and
resumes with none; its lineage, read from the written footers, equals
an independent scan of the written files grouped by write task."""

import os

import pyarrow.parquet as pq
import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F

from rex_spark.io.stages import StageStore
from rex_spark.pipeline import build_pages_df, run_pipeline

LINEAGE = ["row_count", "url_min", "url_max", "warc_ts_watermark"]


@pytest.fixture(scope="module")
def pages(spark):
    return build_pages_df(spark, 40, seed=7)


@pytest.fixture(scope="module")
def pipeline_store(spark, pages, tmp_path_factory):
    store = StageStore(spark, str(tmp_path_factory.mktemp("stages")))
    run_pipeline(spark, pages, store=store)
    return store


def _lineage(store, name):
    return {r["_pid"]: tuple(r[c] for c in LINEAGE)
            for r in store.lineage(name).collect()}


def _oracle(spark, path):
    """Lineage by a Spark scan: rows grouped by the part id of the file
    they were read from."""
    df = spark.read.parquet(path)
    url = F.col("url") if "url" in df.columns else F.lit(None).cast("string")
    ts = F.col("warc_ts") if "warc_ts" in df.columns else F.lit(None).cast("timestamp")
    pid = F.regexp_extract("_metadata.file_name", r"^part-(\d+)", 1).cast("int")
    rows = (
        df.select(pid.alias("_pid"), url.alias("url"), ts.alias("ts"))
        .groupBy("_pid")
        .agg(F.count(F.lit(1)), F.min("url"), F.max("url"), F.max("ts"))
        .collect()
    )
    return {r[0]: tuple(r[1:]) for r in rows}


def _footers(path):
    return [
        pq.read_metadata(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.startswith("part-")
    ]


def test_stage_commits_in_one_job_and_resumes_in_none(spark, pages, tmp_path):
    root = str(tmp_path / "stages")

    def docs():
        return pages.select("url", "warc_ts", "lang")

    _, jobs = spark_jobs(spark, lambda: StageStore(spark, root).run("docs", docs))
    assert jobs == 1
    df, jobs = spark_jobs(spark, lambda: StageStore(spark, root).run("docs", docs))
    assert jobs == 0
    assert df.count() == pages.count()
    # the schema the marker records is the one inference would give
    assert df.schema == spark.read.parquet(os.path.join(root, "docs")).schema


@pytest.mark.parametrize("name", ["plane", "edges"])
def test_footer_lineage_matches_scan(spark, pipeline_store, name):
    path = os.path.join(pipeline_store.root, name)
    got = _lineage(pipeline_store, name)
    assert got == _oracle(spark, path)
    assert len(_footers(path)) > 1
    assert pipeline_store.read(name).schema == spark.read.parquet(path).schema
    if name == "plane":
        assert all(v[1] is not None and v[3] is not None for v in got.values())
    else:
        # edges carry neither url nor warc_ts
        assert all(v[1:] == (None, None, None) for v in got.values())


def test_footer_lineage_folds_row_groups_and_null_files(spark, tmp_path):
    """Several row groups per file, and per write task one file whose
    urls are all null (partition bare=true): min/max skip it, as the
    scan's do."""
    store = StageStore(spark, str(tmp_path / "stages"))
    i = F.col("id")
    synthetic = spark.range(0, 2000, 1, 2).select(
        F.when(i % 5 == 0, F.lit(None))
        .otherwise(F.format_string("http://h%d/p%d", i % 7, i))
        .alias("url"),
        F.timestamp_micros(i * 1000003).alias("warc_ts"),
        (i % 5 == 0).alias("bare"),
    )
    spark.conf.set("parquet.block.size", "1024")
    try:
        store.run("synthetic", lambda: synthetic, partition_by=["bare"])
    finally:
        spark.conf.unset("parquet.block.size")
    path = os.path.join(store.root, "synthetic")
    assert any(md.num_row_groups > 1 for md in _footers(path))
    got = _lineage(store, "synthetic")
    assert got == _oracle(spark, path)
    assert len(got) == 2 and all(v[1] is not None for v in got.values())


def test_lineage_of_empty_and_columnless_stages(spark, pages, tmp_path):
    store = StageStore(spark, str(tmp_path / "stages"))
    empty = store.run("empty", lambda: pages.limit(0).select("url", "warc_ts"))
    assert empty.count() == 0
    assert store.lineage("empty").count() == 0

    store.run("ids", lambda: spark.range(0, 10, 1, 2))
    rows = store.lineage("ids").collect()
    assert sum(r["row_count"] for r in rows) == 10
    assert all(
        r["url_min"] is None and r["url_max"] is None
        and r["warc_ts_watermark"] is None
        for r in rows
    )


def test_int96_watermark_is_null(spark, pages, tmp_path):
    """INT96 timestamps carry no statistics: the watermark is null, not
    guessed; the url range (which has statistics) is still recorded."""
    store = StageStore(spark, str(tmp_path / "stages"))
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        store.run("docs", lambda: pages.select("url", "warc_ts"))
    finally:
        spark.conf.set(key, prev)
    rows = store.lineage("docs").collect()
    assert rows and all(r["warc_ts_watermark"] is None for r in rows)
    assert all(r["url_min"] is not None for r in rows)
    assert store.read("docs").where("warc_ts is not null").count() > 0


def test_file_without_statistics_nulls_its_task(spark, tmp_path):
    """One write task, two files: parquet drops the statistics of the
    file holding a url over 4 KiB, so the task's url range is null
    rather than the other file's range."""
    store = StageStore(spark, str(tmp_path / "stages"))
    i = F.col("id")
    long_url = F.concat(F.lit("http://long/"), F.repeat(F.lit("a"), 5000))
    df = spark.range(0, 4, 1, 1).select(
        F.when(i < 2, long_url)
        .otherwise(F.format_string("http://short/%d", i))
        .alias("url"),
        (i < 2).alias("long"),
    )
    store.run("mixed", lambda: df, partition_by=["long"])
    rows = store.lineage("mixed").collect()
    assert [(r["row_count"], r["url_min"], r["url_max"]) for r in rows] == [
        (4, None, None)
    ]
