"""WARC source connector (io/warc.py): writer/parser round-trips, a
hand-crafted wire vector pinning the record grammar independently of
our writer, corrupt-input contracts, and the Spark connector
(binaryFile file-parallel read -> pages DataFrame -> the KG pipeline
accepts it)."""

import datetime as dt
import gzip
import os

import pytest
from conftest import python_node_names

from rex_spark.io.warc import (
    _gzip_members,
    encode_warc_gz,
    parse_warc,
    read_warc,
)
from rex_spark.kernels.synth import make_page


def _recs(n, seed=42):
    out = []
    for i in range(n):
        p, _ = make_page(i, seed)
        out.append((p["url"], p["warc_ts"], p["html"]))
    return out


def _aware(recs):
    """parse_warc returns UTC-AWARE timestamps (WARC-Date is UTC)."""
    return [
        (u, t.replace(tzinfo=dt.timezone.utc), h) for u, t, h in recs
    ]


def test_warc_roundtrip_gz_and_raw(monkeypatch):
    recs = _recs(25)
    pay = encode_warc_gz(recs)
    assert parse_warc(pay) == _aware(recs)
    assert parse_warc(b"".join(_gzip_members(pay))) == _aware(recs)
    # one gzip member per record: seekability convention
    assert sum(1 for _ in _gzip_members(pay)) == 25
    # byte-reproducible: gzip's clock leaves no trace in the members
    monkeypatch.setattr(gzip.time, "time", lambda: 1e9)
    assert encode_warc_gz(recs) == pay


def test_warc_utf8_headers_and_chunk_spanning_records():
    import gzip as _gzip

    from rex_spark.io.warc import _split_records

    # non-ASCII target URI must round-trip through UTF-8 headers
    url = "https://ex.com/café/阿里"
    ts = dt.datetime(2024, 5, 6, 7, 8, 9)
    pay = encode_warc_gz([(url, ts, b"<html>x</html>")])
    assert parse_warc(pay)[0][0] == url
    # a record split across chunk boundaries (members need not align
    # with records per the spec) parses identically
    raw = _gzip.decompress(pay)
    for cut in (3, len(raw) // 2, len(raw) - 3):
        rows = list(_split_records(iter([raw[:cut], raw[cut:]])))
        assert len(rows) == 1 and rows[0][0]["warc-target-uri"] == url


def test_warc_crafted_wire_vector():
    """Hand-built record run, never touched by encode_warc_gz: a
    warcinfo record (skipped), a request record (skipped), a response
    whose HTTP body contains CRLFCRLF (must not re-split), and
    lowercase/extra headers."""
    body = b"<html>a\r\n\r\nb</html>"
    http = b"HTTP/1.1 200 OK\r\nX-Extra: 1\r\n\r\n" + body
    rec = (
        b"WARC/1.0\r\n"
        b"warc-type: response\r\n"
        b"WARC-Target-URI: https://x.example/one\r\n"
        b"WARC-Date: 2024-01-02T03:04:05Z\r\n"
        b"WARC-Record-ID: <urn:uuid:1>\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        + http + b"\r\n\r\n"
    )
    info = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nname"
        b"\r\n\r\n"
    )
    req = (
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Target-URI: https://x.example/one\r\n"
        b"Content-Length: 2\r\n\r\nhi\r\n\r\n"
    )
    rows = parse_warc(info + req + rec)
    assert rows == [
        (
            "https://x.example/one",
            dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc),
            body,
        )
    ]
    # same content as a single gzip member
    assert parse_warc(gzip.compress(info + req + rec)) == rows


def test_warc_corrupt_contracts():
    pay = encode_warc_gz(_recs(5))
    for bad in (pay[: len(pay) // 2], b"\x1f\x8bgarbage",
                b"WARC/1.0\r\nContent-Length: 99\r\n\r\nshort"):
        with pytest.raises(ValueError):
            parse_warc(bad)
    with pytest.raises(ValueError):  # record without Content-Length
        parse_warc(b"WARC/1.0\r\nWARC-Type: response\r\n\r\n")


def test_read_warc_spark_and_pipeline(spark, tmp_path):
    """Connector end-to-end: 3 files -> pages DataFrame (3 input
    tasks), rows equal the source records, and the DataFrame feeds the
    KG pipeline directly (raw dump -> triples)."""
    recs = _recs(36)
    for k in range(3):
        (tmp_path / f"part-{k}.warc.gz").write_bytes(
            encode_warc_gz(recs[k * 12 : (k + 1) * 12])
        )
    df = read_warc(spark, str(tmp_path))
    got = {
        r["url"]: (r["warc_ts"], bytes(r["html"])) for r in df.collect()
    }
    assert len(got) == 36
    for url, ts, html in recs:
        assert got[url] == (ts, html)
    # the connector's output is a valid pipeline input (needs text/lang
    # columns too — a raw dump has neither, which is exactly the
    # from-scratch shape: pipeline recomputes text from html)
    from pyspark.sql import functions as F

    from rex_spark.pipeline import run_pipeline

    pages = df.withColumn("text", F.lit(None).cast("string")).withColumn(
        "lang", F.lit(None).cast("string")
    )
    result = run_pipeline(spark, pages, store=None, salt_partitions=4)
    assert result["triple_set"].count() > 0


def test_stream_warc_pages_incremental_drains(spark, tmp_path):
    """A growing crawl directory: drop wave 1 of *.warc.gz, drain
    (availableNow), drop wave 2, drain again — triples accumulate
    exactly once and equal a batch run over the union."""
    from pyspark.sql import functions as F

    from rex_spark.pipeline import run_pipeline
    from rex_spark.streaming import incremental_triples, stream_warc_pages

    crawl = tmp_path / "crawl"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    crawl.mkdir()
    recs = _recs(30)

    def drain():
        q = incremental_triples(
            stream_warc_pages(spark, str(crawl), max_files_per_trigger=2),
            str(out), str(ckpt), available_now=True,
        )
        q.awaitTermination()

    (crawl / "w0.warc.gz").write_bytes(encode_warc_gz(recs[:10]))
    (crawl / "w1.warc.gz").write_bytes(encode_warc_gz(recs[10:20]))
    drain()
    n1 = spark.read.parquet(str(out)).count()
    assert n1 > 0
    (crawl / "w2.warc.gz").write_bytes(encode_warc_gz(recs[20:]))
    drain()
    streamed = spark.read.parquet(str(out))
    # batch reference over the SAME raw dump
    from rex_spark.io.warc import read_warc

    pages = (
        read_warc(spark, str(crawl))
        .withColumn("text", F.lit(None).cast("string"))
        .withColumn("lang", F.lit(None).cast("string"))
    )
    batch = run_pipeline(spark, pages, store=None, salt_partitions=4)[
        "triple_set"
    ]
    s = streamed.select("url", "subj", "pred", "obj")
    b = batch.select("url", "subj", "pred", "obj")
    assert s.exceptAll(b).count() == 0 and b.exceptAll(s).count() == 0


def test_warc_fuzz_exception_contract():
    """Random byte flips + every truncation band: parse_warc raises
    ONLY ValueError (or succeeds) — never IndexError/KeyError/
    zlib.error/UnicodeDecodeError, which would fail a Spark stage in a
    way 'corrupt=skip' cannot tolerate."""
    import random

    r = random.Random(7)
    pay = bytearray(encode_warc_gz(_recs(8)))
    for _ in range(500):
        b = bytearray(pay)
        for _ in range(r.randint(1, 4)):
            b[r.randrange(len(b))] = r.randrange(256)
        try:
            parse_warc(bytes(b))
        except ValueError:
            pass
    for n in range(0, len(pay), 31):
        try:
            parse_warc(bytes(pay[:n]))
        except ValueError:
            pass


def test_read_warc_corrupt_skip_keeps_good_files(spark, tmp_path):
    """corrupt='skip': a truncated crawl file contributes the records
    before the bad byte; other files are untouched; default 'fail'
    raises."""
    recs = _recs(20)
    good = encode_warc_gz(recs[:10])
    bad = encode_warc_gz(recs[10:])[:-40]  # truncate the last member
    (tmp_path / "good.warc.gz").write_bytes(good)
    (tmp_path / "bad.warc.gz").write_bytes(bad)
    got = {r["url"] for r in
           read_warc(spark, str(tmp_path), corrupt="skip").collect()}
    assert {u for u, _, _ in recs[:10]} <= got
    assert len(got) < 20  # the truncated tail records are gone
    with pytest.raises(Exception):
        read_warc(spark, str(tmp_path)).collect()  # strict default


def test_warc_negative_content_length_is_corrupt_not_infinite():
    """A one-byte corruption producing a negative Content-Length must
    raise ValueError, not loop forever yielding the same record."""
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://x/1\r\n"
        b"WARC-Date: 2024-01-02T03:04:05Z\r\n"
        b"Content-Length: -9999\r\n\r\nbody\r\n\r\n"
    )
    with pytest.raises(ValueError):
        parse_warc(rec)


def test_stream_warc_pages_drains_past_truncated_file(spark, tmp_path):
    """One truncated crawl file must not wedge the stream: the query
    drains, the good file's records land, and the truncated file
    contributes the records before its first bad byte."""
    from rex_spark.io.warc import iter_warc
    from rex_spark.streaming import stream_warc_pages

    recs = _recs(20)
    bad = encode_warc_gz(recs[10:])[:-40]  # truncate the last member
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "good.warc.gz").write_bytes(encode_warc_gz(recs[:10]))
    (crawl / "bad.warc.gz").write_bytes(bad)
    prefix = []
    with pytest.raises(ValueError):
        for url, _ts, _html in iter_warc(bad):
            prefix.append(url)
    assert prefix  # nonvacuous: the file has a good prefix

    out = tmp_path / "out"
    q = (
        stream_warc_pages(spark, str(crawl), max_files_per_trigger=1)
        .select("url")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [r["url"] for r in spark.read.parquet(str(out)).collect()]
    assert sorted(got) == sorted([u for u, _, _ in recs[:10]] + prefix)


def test_stream_warc_pages_plan_is_one_arrow_crossing(spark, tmp_path):
    """Each micro-batch expands its crawl files in one MapInArrow
    (crossing.fan_out), with no MapInPandas."""
    from rex_spark.streaming import stream_warc_pages

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "w0.warc.gz").write_bytes(encode_warc_gz(_recs(5)))
    q = (
        stream_warc_pages(spark, str(crawl))
        .writeStream.format("memory")
        .queryName("warc_plan")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    plan = q._jsq.streamingQuery().lastExecution().executedPlan()  # noqa: SLF001
    assert python_node_names(plan) == ["MapInArrow"], plan.toString()
    assert spark.table("warc_plan").count() == 5
