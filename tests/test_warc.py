"""Distributed WARC source (sources/warc.py): record parsing, gzip
member streaming, Spark round-trip, and render parity with the parquet
pages path."""

from __future__ import annotations

import gzip
import sys
from datetime import datetime
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from rust_html2text_spark.sources.warc import (  # noqa: E402
    iter_warc_file,
    iter_warc_records,
    read_warc_pages,
    write_warc_file,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from rust_html2text_spark.plans.session import get_spark

    s = get_spark(master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _sample_records(n=10):
    return [
        (
            f"https://www.example.com/doc/{i}",
            datetime(2026, 1, 1, 0, 0, i),
            f"<html><body><p>doc {i}</p></body></html>".encode(),
        )
        for i in range(n)
    ]


def test_roundtrip_gzip_members(tmp_path):
    recs = _sample_records()
    path = str(tmp_path / "a.warc.gz")
    assert write_warc_file(path, recs) == len(recs)
    # record-per-gzip-member layout (the Common Crawl convention)
    raw = open(path, "rb").read()
    assert raw.count(b"\x1f\x8b\x08") >= len(recs)
    got = list(iter_warc_file(path))
    assert got == recs


def test_roundtrip_plain(tmp_path):
    recs = _sample_records(5)
    path = str(tmp_path / "a.warc")
    write_warc_file(path, recs, gzip_members=False)
    assert list(iter_warc_file(path)) == recs


def test_chunk_straddling_is_irrelevant(tmp_path):
    """The incremental parser must give identical records for any chunking
    of the byte stream, including 1-byte chunks."""
    recs = _sample_records(3)
    path = str(tmp_path / "a.warc")
    write_warc_file(path, recs, gzip_members=False)
    raw = open(path, "rb").read()
    whole = list(iter_warc_records([raw]))
    tiny = list(iter_warc_records(raw[i : i + 1] for i in range(len(raw))))
    assert whole == tiny
    assert len(whole) == 3


def test_non_response_records_skipped(tmp_path):
    path = str(tmp_path / "a.warc")
    info = (
        b"WARC/1.0\r\n"
        b"WARC-Type: warcinfo\r\n"
        b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        b"Content-Type: application/warc-fields\r\n"
        b"Content-Length: 14\r\n\r\n"
        b"robots: obey\r\n"
        b"\r\n\r\n"
    )
    with open(path, "wb") as fh:
        fh.write(info)
    write_warc_file(str(tmp_path / "b.warc"), _sample_records(2), gzip_members=False)
    fh = open(path, "ab")
    fh.write(open(str(tmp_path / "b.warc"), "rb").read())
    fh.close()
    got = list(iter_warc_file(path))
    assert [u for u, _, _ in got] == [
        "https://www.example.com/doc/0",
        "https://www.example.com/doc/1",
    ]


def test_truncated_archive_yields_prefix(tmp_path):
    recs = _sample_records(8)
    path = str(tmp_path / "a.warc.gz")
    write_warc_file(path, recs)
    raw = open(path, "rb").read()
    cut = str(tmp_path / "cut.warc.gz")
    with open(cut, "wb") as fh:
        fh.write(raw[: int(len(raw) * 0.6)])
    got = []
    try:
        for rec in iter_warc_file(cut):
            got.append(rec)
    except Exception:
        pass  # a truncated gzip member may raise after the parsed prefix
    assert 0 < len(got) < 8
    assert got == recs[: len(got)]


def test_spark_read_warc_pages_matches_parquet_pages(spark, tmp_path):
    """pages → WARC files → read_warc_pages must reproduce url/warc_ts/html
    exactly, and rendering the WARC-sourced pages must byte-match rendering
    the parquet-sourced pages per url (the north-rule invariant holds
    across sources)."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.operators.render import render_pages
    from rust_html2text_spark.sources.corpus import load_pages

    pages = load_pages(spark, SF_DIR).limit(60)
    rows = pages.collect()
    # write 3 WARC files of 20 records each
    for part in range(3):
        write_warc_file(
            str(tmp_path / f"part-{part}.warc.gz"),
            [
                (r["url"], r["warc_ts"], bytes(r["html"]))
                for r in rows[part * 20 : (part + 1) * 20]
            ],
        )
    warc_df = read_warc_pages(spark, str(tmp_path / "*.warc.gz"))
    assert warc_df.rdd.getNumPartitions() == 3
    got = {r["url"]: r for r in warc_df.collect()}
    assert len(got) == 60
    for r in rows:
        g = got[r["url"]]
        assert bytes(g["html"]) == bytes(r["html"])
        assert g["warc_ts"] == r["warc_ts"]
        assert g["text"] is None and g["lang"] is None

    parquet_text = {
        r["url"]: r["text"]
        for r in render_pages(pages, width=80).filter(F.col("error").isNull()).collect()
    }
    warc_text = {
        r["url"]: r["text"]
        for r in render_pages(warc_df, width=80)
        .filter(F.col("error").isNull())
        .collect()
    }
    assert warc_text == parquet_text
    assert len(warc_text) == 60


def _stream_warc(spark, inp, tmp_path, mode="render"):
    """Every archive in `inp` through stream_warc_pages and the `mode`
    operator; the streamed output frame."""
    from rust_html2text_spark.streaming.pipeline import (
        start_extraction_stream,
        stream_warc_pages,
    )

    q = start_extraction_stream(
        stream_warc_pages(spark, str(inp)),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        mode=mode,
    )
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(str(tmp_path / "out"))


def test_read_warc_pages_one_file_per_task(spark, tmp_path):
    """gzip archives are unsplittable, so the file is the task: four
    archives read as four partitions of one archive each (a round-robin
    repartition of four paths can leave one task two archives)."""
    from pyspark.sql import functions as F

    recs = _sample_records(8)
    for k in range(4):
        write_warc_file(str(tmp_path / f"f{k}.warc.gz"), recs[2 * k : 2 * k + 2])
    df = read_warc_pages(spark, str(tmp_path / "*.warc.gz"))
    per_task = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert sorted(r["count"] for r in per_task) == [2, 2, 2, 2]


def test_streaming_warc_ingest_matches_batch(spark, tmp_path):
    """WARC archives streamed via binaryFile → render must equal the batch
    WARC source → render, with checkpointed exactly-once output."""
    from rust_html2text_spark.operators.render import render_pages
    from rust_html2text_spark.sources.corpus import load_pages

    rows = load_pages(spark, SF_DIR).limit(30).collect()
    inp = tmp_path / "in"
    inp.mkdir()
    for part in range(2):
        write_warc_file(
            str(inp / f"part-{part}.warc.gz"),
            [
                (r["url"], r["warc_ts"], bytes(r["html"]))
                for r in rows[part * 15 : (part + 1) * 15]
            ],
        )
    streamed = sorted(
        (r.url, r.text) for r in _stream_warc(spark, inp, tmp_path).collect()
    )
    batch_pages = read_warc_pages(spark, str(inp / "*.warc.gz"))
    batch = sorted(
        (r.url, r.text) for r in render_pages(batch_pages, width=80).collect()
    )
    assert streamed == batch
    assert len(streamed) == 30


def test_streaming_corrupt_archive_matches_batch(spark, tmp_path):
    """A corrupt archive costs the stream only the records after its
    fault, exactly as in the batch reader: one good archive (3 records)
    and one whose middle gzip member fails its CRC check (the record
    before the fault survives) stream to the same 4 rows read_warc_pages
    gives, instead of failing the query."""
    from rust_html2text_spark.operators.render import render_pages

    inp = tmp_path / "in"
    inp.mkdir()
    write_warc_file(str(inp / "good.warc.gz"), _sample_records(3))
    idx = []
    bad = str(inp / "bad.warc.gz")
    write_warc_file(bad, _sample_records(6)[3:], index_out=idx)
    raw = bytearray(Path(bad).read_bytes())
    crc_at = idx[1]["offset"] + idx[1]["length"] - 8  # gzip trailer CRC32
    raw[crc_at : crc_at + 4] = bytes(b ^ 0xFF for b in raw[crc_at : crc_at + 4])
    Path(bad).write_bytes(bytes(raw))

    streamed = sorted(
        (r.url, r.text) for r in _stream_warc(spark, inp, tmp_path).collect()
    )
    batch_pages = read_warc_pages(spark, str(inp / "*.warc.gz"))
    batch = sorted(
        (r.url, r.text) for r in render_pages(batch_pages, width=80).collect()
    )
    assert streamed == batch
    assert [u for u, _ in streamed] == [
        f"https://www.example.com/doc/{i}" for i in range(4)
    ]


def test_cli_stream_warc_runs_the_mode_operator(spark, tmp_path, monkeypatch):
    """--stream --input-format warc --mode extract runs the extract
    operator over the archives (its winner_tag column is in the output),
    and --stream with --colour exits 2 instead of dropping the flag."""
    from pyspark.sql import SparkSession

    inp = tmp_path / "in"
    inp.mkdir()
    write_warc_file(str(inp / "a.warc.gz"), _sample_records(4))
    out = str(tmp_path / "out")
    argv = ["run_job.py", "--stream", "--input-format", "warc", "--input",
            str(inp), "--output", out, "--master", "local[4]"]
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    sys.path.insert(0, str(REPO / "scripts"))
    import run_job

    monkeypatch.setattr(sys, "argv", argv + ["--mode", "extract"])
    run_job.main()
    got = spark.read.parquet(out)
    assert "winner_tag" in got.columns and got.count() == 4

    monkeypatch.setattr(sys, "argv", argv + ["--colour"])
    with pytest.raises(SystemExit) as exc:
        run_job.main()
    assert exc.value.code == 2


def test_payload_containing_warc_markers(tmp_path):
    """Content-Length framing must survive payloads that contain
    '\\r\\n\\r\\n' and 'WARC/1.0' byte sequences (hostile html)."""
    evil = (
        b"<html><body><pre>\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n"
        b"Content-Length: 99999\r\n\r\n</pre><p>still doc 0</p></body></html>"
    )
    recs = [
        ("https://e.com/evil", datetime(2026, 1, 1), evil),
        ("https://e.com/next", datetime(2026, 1, 2), b"<p>doc 1</p>"),
    ]
    for gz in (True, False):
        path = str(tmp_path / (f"evil-{gz}.warc" + (".gz" if gz else "")))
        write_warc_file(path, recs, gzip_members=gz)
        assert list(iter_warc_file(path)) == recs


def test_fuzz_roundtrip_random_payloads(tmp_path):
    """Property: any byte payload round-trips through write+parse, under
    any stream chunking."""
    import random

    rng = random.Random(42)
    recs = []
    for i in range(40):
        n = rng.randrange(0, 400)
        payload = bytes(rng.randrange(256) for _ in range(n))
        recs.append((f"https://f.com/{i}", datetime(2026, 1, 1, 0, 0, i % 60), payload))
    path = str(tmp_path / "fuzz.warc.gz")
    write_warc_file(path, recs)
    assert list(iter_warc_file(path)) == recs
    # arbitrary chunk sizes over the plain stream
    plain = str(tmp_path / "fuzz.warc")
    write_warc_file(plain, recs, gzip_members=False)
    raw = open(plain, "rb").read()

    def chunks(size):
        for i in range(0, len(raw), size):
            yield raw[i : i + size]

    from rust_html2text_spark.sources.warc import _iter_pages

    for size in (1, 7, 4096, len(raw)):
        got = [rec[:3] for rec in _iter_pages(chunks(size))]
        assert got == recs, f"chunk size {size}"


# -- HTTP payload encodings (round 4) -----------------------------------------
# Real Common Crawl response records carry Transfer-Encoding: chunked and
# Content-Encoding: gzip/deflate on the HTTP body; the reader must undo both.


def _enc_records(n=6):
    return [
        (
            f"https://enc.example.com/{i}",
            datetime(2026, 2, 1, 0, 0, i),
            (
                f"<html><body><h1>Doc {i}</h1><p>"
                + "lorem ipsum dolor sit amet " * (i + 1)
                + "</p></body></html>"
            ).encode(),
        )
        for i in range(n)
    ]


@pytest.mark.parametrize("http_encoding", ["chunked", "gzip", "gzip+chunked"])
@pytest.mark.parametrize("gz_members", [True, False])
def test_roundtrip_http_encodings(tmp_path, http_encoding, gz_members):
    recs = _enc_records()
    path = str(tmp_path / f"e.warc{'.gz' if gz_members else ''}")
    write_warc_file(path, recs, gzip_members=gz_members, http_encoding=http_encoding)
    raw = open(path, "rb").read()
    if http_encoding != "chunked" and not gz_members:
        # the html must actually be compressed on the wire, not passthrough
        assert recs[0][2] not in raw
    assert list(iter_warc_file(path)) == recs


def test_chunked_framing_visible_on_wire(tmp_path):
    path = str(tmp_path / "c.warc")
    write_warc_file(path, _enc_records(1), gzip_members=False, http_encoding="chunked")
    raw = open(path, "rb").read()
    assert b"Transfer-Encoding: chunked" in raw
    assert b"\r\n0\r\n\r\n" in raw  # terminal zero-size chunk
    # chunked responses must not carry an inner HTTP Content-Length
    body = raw.split(b"HTTP/1.1 200 OK", 1)[1]
    assert b"Content-Length" not in body.split(b"\r\n\r\n", 1)[0]


def test_dechunk_unit():
    from rust_html2text_spark.sources.warc import _chunked_frame, _dechunk

    for payload in (b"", b"x", b"hello world" * 100):
        for size in (1, 3, 64, 4096):
            assert _dechunk(_chunked_frame(payload, size)) == payload
    # chunk extensions after ';' are ignored (RFC 9112 §7.1.1)
    assert _dechunk(b"5;ext=1\r\nhello\r\n0\r\n\r\n") == b"hello"
    with pytest.raises(ValueError):
        _dechunk(b"5\r\nhel")  # truncated chunk data
    with pytest.raises(ValueError):
        _dechunk(b"zz\r\nhello\r\n0\r\n\r\n")  # non-hex size line


def test_malformed_encoding_degrades_not_fatal(tmp_path):
    """A record whose body claims chunked/gzip but is garbage must degrade
    to the raw framed body; later records still parse."""
    from rust_html2text_spark.sources.warc import _decode_http_payload

    bad_chunked = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"ffff\r\n<p>truncated"
    )
    payload, _cs, err = _decode_http_payload(bad_chunked)
    assert payload == b"ffff\r\n<p>truncated" and err is not None

    bad_gzip = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
        b"not actually gzip bytes"
    )
    payload, _cs, err = _decode_http_payload(bad_gzip)
    assert payload == b"not actually gzip bytes" and err is not None

    unknown = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: zstd\r\n\r\nZSTDBYTES"
    )
    payload, _cs, err = _decode_http_payload(unknown)
    assert payload == b"ZSTDBYTES" and "zstd" in err

    # a whole file: one malformed record between two good ones
    good = _enc_records(2)
    path = str(tmp_path / "mix.warc")
    write_warc_file(path, [good[0]], gzip_members=False)
    evil_http = bad_chunked
    evil = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Record-ID: <urn:uuid:deadbeef>\r\n"
        "WARC-Target-URI: https://enc.example.com/evil\r\n"
        "WARC-Date: 2026-02-01T00:00:30Z\r\n"
        "Content-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {len(evil_http)}\r\n\r\n"
    ).encode() + evil_http + b"\r\n\r\n"
    with open(path, "ab") as fh:
        fh.write(evil)
    with open(str(tmp_path / "tail.warc"), "wb") as fh2:
        pass
    write_warc_file(str(tmp_path / "tail.warc"), [good[1]], gzip_members=False)
    with open(path, "ab") as fh:
        fh.write(open(str(tmp_path / "tail.warc"), "rb").read())
    got = list(iter_warc_file(path))
    assert [u for u, _, _ in got] == [
        good[0][0],
        "https://enc.example.com/evil",
        good[1][0],
    ]
    assert got[0][2] == good[0][2] and got[2][2] == good[1][2]
    assert got[1][2] == b"ffff\r\n<p>truncated"  # degraded, not dropped


def test_deflate_content_encoding():
    """Both zlib-wrapped and raw-deflate bodies decode (servers send both)."""
    import zlib as z

    from rust_html2text_spark.sources.warc import _decode_http_payload

    html = b"<p>deflated</p>"
    raw_obj = z.compressobj(wbits=-15)
    raw_deflate = raw_obj.compress(html) + raw_obj.flush()
    for body in (z.compress(html), raw_deflate):
        blk = b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + body
        payload, _cs, err = _decode_http_payload(blk)
        assert (payload, err) == (html, None)


def test_negative_content_length_terminates():
    """ADVICE(high): a negative Content-Length must not livelock the parser
    or emit unbounded duplicate records."""
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://h.com/neg\r\n"
        b"WARC-Date: 2026-02-01T00:00:00Z\r\n"
        b"Content-Length: -5\r\n\r\n"
        b"HTTP/1.1 200 OK\r\n\r\n<p>x</p>\r\n\r\n"
    )
    got = list(iter_warc_records([rec]))
    assert got == []  # corrupt record: stop the file, never loop
    # and a good record before it still parses
    good = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://h.com/ok\r\n"
        b"WARC-Date: 2026-02-01T00:00:00Z\r\n"
        b"Content-Length: 8\r\n\r\n"
        b"<p>y</p>\r\n\r\n"
    )
    got = list(iter_warc_records([good + rec]))
    assert len(got) == 1 and got[0][0]["warc-target-uri"] == "https://h.com/ok"


def test_spark_render_parity_over_encoded_warc(spark, tmp_path):
    """The north-rule invariant (byte-identical text per url) must hold when
    pages arrive as gzip+chunked WARC archives."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.operators.render import render_pages
    from rust_html2text_spark.sources.corpus import load_pages

    pages = load_pages(spark, SF_DIR).limit(40)
    rows = pages.collect()
    for part in range(2):
        write_warc_file(
            str(tmp_path / f"enc-{part}.warc.gz"),
            [
                (r["url"], r["warc_ts"], bytes(r["html"]))
                for r in rows[part * 20 : (part + 1) * 20]
            ],
            http_encoding="gzip+chunked",
        )
    warc_df = read_warc_pages(spark, str(tmp_path / "*.warc.gz"))
    parquet_text = {
        r["url"]: r["text"]
        for r in render_pages(pages, width=80).filter(F.col("error").isNull()).collect()
    }
    warc_text = {
        r["url"]: r["text"]
        for r in render_pages(warc_df, width=80)
        .filter(F.col("error").isNull())
        .collect()
    }
    assert warc_text == parquet_text and len(warc_text) == 40


def test_ingest_error_column(spark, tmp_path):
    """include_error_col surfaces per-record decode failures as lineage
    (NULL for clean records, the error string for degraded ones)."""
    good = _enc_records(3)
    path = str(tmp_path / "ok.warc")
    write_warc_file(path, good, gzip_members=False, http_encoding="gzip")
    # append a record whose body claims gzip but is garbage
    bad_http = b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot gzip"
    evil = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://enc.example.com/bad\r\n"
        "WARC-Date: 2026-02-01T00:00:59Z\r\n"
        "Content-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {len(bad_http)}\r\n\r\n"
    ).encode() + bad_http + b"\r\n\r\n"
    with open(path, "ab") as fh:
        fh.write(evil)

    df = read_warc_pages(spark, [path], include_error_col=True)
    assert df.columns == ["url", "warc_ts", "html", "text", "lang", "ingest_error"]
    rows = {r["url"]: r for r in df.collect()}
    assert len(rows) == 4
    for url, _, html in good:
        assert rows[url]["ingest_error"] is None
        assert bytes(rows[url]["html"]) == html
    bad = rows["https://enc.example.com/bad"]
    assert bad["ingest_error"] is not None and "gzip" in bad["ingest_error"]
    assert bytes(bad["html"]) == b"not gzip"  # degraded to the framed body

    # default schema is unchanged (north-rule shape)
    plain = read_warc_pages(spark, [path])
    assert plain.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert plain.count() == 4


def test_wet_round_trip_and_export(spark, tmp_path):
    """WET (conversion-record) output: write -> read round trip, and the
    end-to-end export of a render result drops into WET consumers."""
    from datetime import datetime

    from rust_html2text_spark.operators.render import render_pages
    from rust_html2text_spark.sources.corpus import load_pages
    from rust_html2text_spark.sources.warc import (
        export_wet,
        iter_wet_file,
        write_wet_file,
    )

    p = str(tmp_path / "direct.wet.gz")
    recs = [
        ("https://e.x/1", datetime(2026, 1, 2), "text one\nsecond line"),
        ("https://e.x/2", None, "unicode päge — dash"),
    ]
    assert write_wet_file(p, recs) == 2
    got = list(iter_wet_file(p))
    assert [(u, t) for u, _ts, t in got] == [(u, t) for u, _ts, t in recs]

    rendered = render_pages(load_pages(spark, SF_DIR).limit(25), width=80)
    wet_path = str(tmp_path / "export.wet.gz")
    n = export_wet(rendered, wet_path)
    want = {
        r["url"]: r["text"]
        for r in rendered.collect()
        if r["text"] is not None
    }
    assert n == len(want)
    assert {u: t for u, _ts, t in iter_wet_file(wet_path)} == want


def test_wet_partitioned_export_shards_round_trip(spark, tmp_path):
    """Scale-safe WET export: one shard per non-empty partition written
    executor-side (atomic rename), a manifest whose counts match, every
    shard standalone-readable, and the union of shards equal to the
    rendered rows.  The driver only ever sees (shard, rows, bytes)
    tuples."""
    import json
    import os

    from rust_html2text_spark.operators.render import render_pages
    from rust_html2text_spark.sources.corpus import load_pages
    from rust_html2text_spark.sources.warc import (
        export_wet_partitioned,
        iter_wet_file,
    )

    rendered = render_pages(
        load_pages(spark, SF_DIR).limit(60), width=80
    ).repartition(5)
    out = str(tmp_path / "wet_out")
    man = export_wet_partitioned(rendered, out)

    want = {
        r["url"]: r["text"]
        for r in rendered.collect()
        if r["text"] is not None
    }
    assert man["records"] == len(want)
    assert 1 < len(man["shards"]) <= 5  # genuinely sharded
    on_disk = sorted(
        f for f in os.listdir(out) if f.endswith(".warc.wet.gz")
    )
    assert on_disk == [s["shard"] for s in man["shards"]]
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]

    got = {}
    for s in man["shards"]:
        shard_recs = list(iter_wet_file(os.path.join(out, s["shard"])))
        assert len(shard_recs) == s["rows"]  # each shard standalone
        assert os.path.getsize(os.path.join(out, s["shard"])) == s["bytes"]
        for u, ts, t in shard_recs:
            assert ts is not None  # warc_ts column carried through
            got[u] = t
    assert got == want

    # the committed manifest file matches what the function returned
    with open(os.path.join(out, "_wet_manifest.json")) as fh:
        assert json.load(fh) == man


def test_wet_partitioned_export_without_ts_and_empty_partitions(spark, tmp_path):
    import os

    from rust_html2text_spark.sources.warc import (
        export_wet_partitioned,
        iter_wet_file,
    )

    df = spark.createDataFrame(
        [("https://e.x/a", "alpha"), ("https://e.x/b", None)],
        "url string, text string",
    ).repartition(8)  # most partitions empty
    out = str(tmp_path / "wet_small")
    man = export_wet_partitioned(df, out)
    assert man["records"] == 1  # null text filtered
    assert len(man["shards"]) == 1  # empty partitions leave no shard
    recs = list(
        iter_wet_file(os.path.join(out, man["shards"][0]["shard"]))
    )
    assert [(u, t) for u, _ts, t in recs] == [("https://e.x/a", "alpha")]


def test_export_wet_is_the_shards_concatenated(spark, tmp_path):
    """The single-file WET export is the partitioned export's shards
    appended in partition order (each record is its own gzip member, so
    the result is one valid WET file); its `.parts` directory is gone
    afterwards and nothing was collected to the driver but the
    manifest."""
    import os

    from rust_html2text_spark.operators.render import render_pages
    from rust_html2text_spark.sources.corpus import load_pages
    from rust_html2text_spark.sources.warc import (
        export_wet,
        export_wet_partitioned,
        iter_wet_file,
    )

    rendered = render_pages(
        load_pages(spark, SF_DIR).limit(40), width=80
    ).repartition(4)
    rendered.cache()
    shards = str(tmp_path / "shards")
    man = export_wet_partitioned(rendered, shards)
    assert len(man["shards"]) > 1
    want = b"".join(
        open(os.path.join(shards, s["shard"]), "rb").read()
        for s in man["shards"]
    )
    path = str(tmp_path / "all.wet.gz")
    assert export_wet(rendered, path) == man["records"]
    assert open(path, "rb").read() == want
    assert len(list(iter_wet_file(path))) == man["records"]
    assert sorted(os.listdir(tmp_path)) == ["all.wet.gz", "shards"]
    rendered.unpersist()


def test_wet_partitioned_export_into_a_used_directory(spark, tmp_path):
    """A second export into the same directory (7 partitions, then 3)
    leaves exactly the shards its manifest lists: none of the first
    export's shards survive to be read by a consumer that lists the
    directory."""
    import json
    import os

    from rust_html2text_spark.sources.warc import (
        export_wet_partitioned,
        iter_wet_file,
    )

    rows = [(f"https://e.x/{i}", f"text {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "url string, text string")
    out = str(tmp_path / "wet_reused")
    first = export_wet_partitioned(df.repartition(7), out)
    assert len(first["shards"]) == 7
    second = export_wet_partitioned(df.limit(12).repartition(3), out)
    assert 0 < len(second["shards"]) <= 3

    on_disk = sorted(f for f in os.listdir(out) if f.endswith(".warc.wet.gz"))
    assert on_disk == [s["shard"] for s in second["shards"]]
    with open(os.path.join(out, "_wet_manifest.json")) as fh:
        assert json.load(fh) == second
    got = [r for name in on_disk for r in iter_wet_file(os.path.join(out, name))]
    assert len(got) == second["records"] == 12
