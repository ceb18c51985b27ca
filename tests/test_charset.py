"""WHATWG encoding sniff for the extraction tier (engine/charset.py):
BOM > meta prescan > fallback, label registry, the utf-16-meta quirk,
and the opt-in operator path with lineage columns."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from rust_html2text_spark.engine.charset import (  # noqa: E402
    decode_html,
    sniff_encoding,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from rust_html2text_spark.plans.session import get_spark

    s = get_spark(master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_bom_wins_over_meta():
    data = b'\xef\xbb\xbf<meta charset="shift_jis"><p>x</p>'
    assert sniff_encoding(data) == ("utf-8", "bom")
    assert sniff_encoding(b"\xff\xfeX\x00") == ("utf-16-le", "bom")
    assert sniff_encoding(b"\xfe\xff\x00X") == ("utf-16-be", "bom")


def test_meta_charset_variants():
    cases = {
        b'<meta charset="windows-1252">': "cp1252",
        b"<meta charset=windows-1252>": "cp1252",
        b"<meta CHARSET='Shift_JIS'>": "shift_jis",
        b'<meta http-equiv="Content-Type" '
        b'content="text/html; charset=EUC-JP">': "euc_jp",
        # WHATWG: latin1/ascii are LABELS FOR windows-1252
        b'<meta charset="iso-8859-1">': "cp1252",
        b'<meta charset="ascii">': "cp1252",
        b'<meta charset="gb2312">': "gbk",
    }
    for head, codec in cases.items():
        got = sniff_encoding(head + b"<p>x</p>")
        assert got == (codec, "meta"), (head, got)


def test_meta_utf16_is_read_as_utf8():
    # the prescan parsed ASCII-shaped bytes; a utf-16 declaration is a lie
    assert sniff_encoding(b'<meta charset="utf-16">x') == ("utf-8", "meta")
    assert sniff_encoding(b'<meta charset="utf-16le">x') == ("utf-8", "meta")


def test_meta_outside_1024_window_is_ignored():
    data = b"<!doctype html>" + b" " * 1200 + b'<meta charset="shift_jis">'
    assert sniff_encoding(data) == ("utf-8", "default")


def test_commented_meta_is_ignored():
    data = b'<!-- <meta charset="shift_jis"> --><p>x</p>'
    assert sniff_encoding(data) == ("utf-8", "default")


def test_unknown_label_falls_through():
    assert sniff_encoding(b'<meta charset="klingon-8">x') == (
        "utf-8",
        "default",
    )


def test_decode_html_strips_bom_and_replaces():
    text, codec, src = decode_html(b"\xef\xbb\xbfhello")
    assert (text, codec, src) == ("hello", "utf-8", "bom")
    # cp1252 smart quotes via meta
    raw = b'<meta charset="windows-1252"><p>\x93q\x94</p>'
    text, codec, _ = decode_html(raw)
    assert codec == "cp1252" and "“q”" in text
    # invalid utf-8 under the default lane degrades, never raises
    text, codec, src = decode_html(b"<p>\xff\xfe\xfa</p>x")
    assert "�" in text and src == "bom" or codec  # no exception is the pin


def test_render_path_unaffected():
    """The byte-identity render path must NOT sniff: a meta-declared
    cp1252 page still renders via utf-8/replace (reference parity,
    src/lib.rs:3011-3023)."""
    from rust_html2text_spark.engine.api import html_to_text

    raw = (
        b'<html><head><meta charset="windows-1252"></head>'
        b"<body><p>caf\xe9</p></body></html>"
    )
    out = html_to_text(raw, 80)
    assert "caf�" in out  # utf-8/replace mojibake, by contract


def test_spark_charset_extract_matches_engine(spark):
    from rust_html2text_spark.engine.extract import extract_main_ex
    from rust_html2text_spark.operators.extract import extract_pages
    from rust_html2text_spark.sources.corpus import (
        charset_pages_from_documents,
        load_documents,
    )

    pages = charset_pages_from_documents(
        load_documents(spark, SF_DIR)
    ).limit(50)
    inputs = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    got = {
        r["url"]: r
        for r in extract_pages(pages, width=80, charset_sniff=True).collect()
    }
    assert set(got) == set(inputs)
    seen_codecs = set()
    for url, raw in inputs.items():
        dec, codec, src = decode_html(raw)
        want = extract_main_ex(dec, 80)
        row = got[url]
        assert row["text"] == want["text"], url
        assert row["encoding"] == codec and row["encoding_source"] == src
        seen_codecs.add(codec)
    # all the non-trivial lanes actually occurred in the sample
    assert {"cp1252", "shift_jis", "utf-16-le"} <= seen_codecs


def test_spark_extract_default_has_no_encoding_columns(spark):
    from rust_html2text_spark.operators.extract import extract_pages
    from rust_html2text_spark.sources.corpus import (
        chrome_pages_from_documents,
        load_documents,
    )

    df = extract_pages(
        chrome_pages_from_documents(load_documents(spark, SF_DIR)).limit(5)
    )
    assert "encoding" not in df.columns  # sniff is opt-in


def test_sniff_across_the_whole_extraction_tier(spark):
    """charset_sniff is available on every HTML-parsing operator of the
    tier (fused, links, metadata, mixed router) and they all agree with
    the engine on the same decoded bytes."""
    from rust_html2text_spark.engine.extract import extract_main_links
    from rust_html2text_spark.engine.metadata import page_metadata
    from rust_html2text_spark.operators.extract import (
        extract_links,
        extract_pages_full,
        page_metadata_pages,
    )
    from rust_html2text_spark.operators.pdf import extract_mixed_pages
    from rust_html2text_spark.sources.corpus import (
        charset_pages_from_documents,
        load_documents,
    )

    pages = charset_pages_from_documents(load_documents(spark, SF_DIR)).limit(25)
    inputs = {r["url"]: bytes(r["html"]) for r in pages.collect()}

    full = {
        r["url"]: r
        for r in extract_pages_full(pages, width=80, charset_sniff=True).collect()
    }
    links: dict = {}
    for r in extract_links(pages, charset_sniff=True).collect():
        links.setdefault(r["url"], []).append(
            (r["ordinal"], r["href"], r["anchor"], r["nofollow"], r["target_abs"])
        )
    meta = {
        r["url"]: r
        for r in page_metadata_pages(pages, charset_sniff=True).collect()
    }
    mixed = {
        r["url"]: r
        for r in extract_mixed_pages(pages, width=80, charset_sniff=True).collect()
    }

    from rust_html2text_spark.engine.api import html_to_text

    for url, raw in inputs.items():
        dec, codec, src = decode_html(raw)
        assert full[url]["encoding"] == codec
        assert full[url]["encoding_source"] == src
        assert links.get(url, []) == extract_main_links(dec, base_url=url)
        assert meta[url]["title"] == page_metadata(dec)["title"]
        assert mixed[url]["kind"] == "html"
        assert mixed[url]["text"] == html_to_text(dec, 80)
    # the non-trivial lanes occurred
    assert {full[u]["encoding"] for u in full} >= {"cp1252", "shift_jis"}


def test_streaming_charset_extract_matches_batch(spark, tmp_path):
    """--stream --mode extract --charset-sniff parity with the batch
    operator on the non-UTF-8 corpus, encoding lineage included."""
    from rust_html2text_spark.operators.extract import extract_pages
    from rust_html2text_spark.sources.corpus import (
        charset_pages_from_documents,
        load_documents,
    )
    from rust_html2text_spark.streaming.pipeline import (
        start_extraction_stream,
        stream_pages,
    )

    pages = charset_pages_from_documents(load_documents(spark, SF_DIR)).limit(20)
    # the stream source reads (url, warc_ts, html): add the ts column
    from pyspark.sql import functions as F

    pages = pages.withColumn("warc_ts", F.current_timestamp())
    inp = str(tmp_path / "in")
    pages.write.parquet(inp)
    q = start_extraction_stream(
        stream_pages(spark, inp),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        mode="extract",
        charset_sniff=True,
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["url"], r["text"], r["encoding"], r["encoding_source"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    want = {
        (r["url"], r["text"], r["encoding"], r["encoding_source"])
        for r in extract_pages(
            spark.read.parquet(inp), width=80, charset_sniff=True
        ).collect()
    }
    assert got == want and len(got) == 20
    assert {e for _, _, e, _ in got} >= {"cp1252", "shift_jis"}


def test_transport_label_between_bom_and_meta():
    # transport (HTTP) label beats the meta prescan...
    data = b'<meta charset="shift_jis"><p>x</p>'
    assert sniff_encoding(data, transport_label="windows-1252") == (
        "cp1252",
        "http",
    )
    # ...but a BOM beats the transport label
    assert sniff_encoding(b"\xef\xbb\xbf" + data, transport_label="windows-1252") == (
        "utf-8",
        "bom",
    )
    # unknown transport labels fall through to the prescan (headers lie)
    assert sniff_encoding(data, transport_label="bogus-charset") == (
        "shift_jis",
        "meta",
    )
    # and to the fallback when there is no meta either
    assert sniff_encoding(b"<p>x</p>", transport_label="bogus") == (
        "utf-8",
        "default",
    )


def test_warc_http_charset_to_extraction(spark, tmp_path):
    """End-to-end crawl-reality lane: a WARC whose HTTP Content-Type
    declares windows-1252 (body has NO meta and non-UTF-8 bytes) flows
    charset-correct through read_warc_pages(include_charset_col=True) →
    extract_pages(charset_sniff=True, charset_col='http_charset')."""
    from rust_html2text_spark.operators.extract import extract_pages
    from rust_html2text_spark.sources.warc import (
        read_warc_pages,
        write_warc_file,
    )

    body = (
        "<html><body><article><p>Transport-declared page — “curly” "
        "quotes and a café, with commas, and enough words to extract "
        "confidently here.</p></article></body></html>"
    ).encode("cp1252")
    recs = [(f"https://t.example/{i}", None, body) for i in range(6)]
    p = str(tmp_path / "cs.warc.gz")
    write_warc_file(
        p, recs, content_type="text/html; charset=windows-1252"
    )

    pages = read_warc_pages(spark, [p], include_charset_col=True)
    assert "http_charset" in pages.columns
    rows = extract_pages(
        pages, width=100, charset_sniff=True, charset_col="http_charset"
    ).collect()
    assert len(rows) == 6
    for r in rows:
        assert r["error"] is None
        assert r["encoding"] == "cp1252"
        assert r["encoding_source"] == "http"
        assert "“curly” quotes and a café" in r["text"]

    # without the transport column the same bytes degrade to mojibake —
    # the lane proves the header genuinely carried the signal
    rows_nolabel = extract_pages(
        pages, width=100, charset_sniff=True
    ).collect()
    assert all("“curly”" not in (r["text"] or "") for r in rows_nolabel)


def test_encoding_lineage_in_job_summary(spark, tmp_path):
    """run_with_resume surfaces the per-run encoding_source histogram in
    the job summary (and per-bucket manifests) when the operator output
    carries sniff lineage — the batch-level mojibake-drift signal."""
    import json
    import os

    from rust_html2text_spark.operators.extract import extract_pages
    from rust_html2text_spark.sources.corpus import (
        charset_pages_from_documents,
        load_documents,
    )
    from rust_html2text_spark.sources.sink import run_with_resume

    pages = charset_pages_from_documents(
        load_documents(spark, SF_DIR)
    ).limit(40)
    out = str(tmp_path / "enc_out")
    summary = run_with_resume(
        pages,
        out,
        num_buckets=3,
        operator=lambda part: extract_pages(
            part, width=80, charset_sniff=True
        ),
    )
    assert summary["rows"] == 40
    hist = summary["encoding_sources"]
    # the charset corpus covers BOM, meta and default-fallback lanes
    assert {"bom", "meta", "default"} <= set(hist)
    assert sum(hist.values()) == 40
    # and the written rows agree with the summary histogram
    got = (
        spark.read.parquet(out)
        .groupBy("encoding_source")
        .count()
        .collect()
    )
    assert {r["encoding_source"]: r["count"] for r in got} == hist
    # per-bucket manifests carry their own histograms summing to the total
    mdir = os.path.join(out, "_manifest")
    bucket_hists = []
    for f in os.listdir(mdir):
        if f.endswith(".json") and f[0].isdigit():
            with open(os.path.join(mdir, f)) as fh:
                bucket_hists.append(json.load(fh).get("encoding_sources", {}))
    merged = {}
    for h in bucket_hists:
        for k, v in h.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == hist
    # a render-mode run (no lineage columns) keeps its summary shape
    from rust_html2text_spark.sources.corpus import load_pages

    s2 = run_with_resume(
        load_pages(spark, SF_DIR).limit(10),
        str(tmp_path / "render_out"),
        num_buckets=2,
    )
    assert "encoding_sources" not in s2


def test_wet_export_carries_identified_charset(spark, tmp_path):
    """WET conversion records carry WARC-Identified-Content-Charset when
    the exported frame has sniff lineage: the header round-trips through
    the shard writer, matches the per-row encoding column, and is absent
    when the frame has no encoding column."""
    import os

    from rust_html2text_spark.operators.extract import extract_pages
    from rust_html2text_spark.sources.corpus import (
        charset_pages_from_documents,
        load_documents,
    )
    from rust_html2text_spark.sources.warc import (
        _file_chunks,
        export_wet_partitioned,
        iter_warc_records,
        write_wet_file,
    )

    # direct writer: 4-tuple records emit the header, 3-tuples do not
    p = str(tmp_path / "direct.wet.gz")
    write_wet_file(
        p,
        [
            ("https://e.x/1", None, "one", "shift_jis"),
            ("https://e.x/2", None, "two"),
        ],
    )
    headers = [
        h for h, _ in iter_warc_records(_file_chunks(p))
    ]
    assert headers[0]["warc-identified-content-charset"] == "shift_jis"
    assert "warc-identified-content-charset" not in headers[1]

    rows_df = extract_pages(
        charset_pages_from_documents(load_documents(spark, SF_DIR)).limit(30),
        width=80,
        charset_sniff=True,
    )
    out = str(tmp_path / "wet_cs")
    man = export_wet_partitioned(rows_df.repartition(3), out)
    want = {
        r["url"]: r["encoding"]
        for r in rows_df.collect()
        if r["text"] is not None
    }
    got = {}
    for s in man["shards"]:
        path = os.path.join(out, s["shard"])
        for h, _ in iter_warc_records(_file_chunks(path)):
            got[h["warc-target-uri"]] = h.get(
                "warc-identified-content-charset"
            )
    assert got == want
    assert {"cp1252", "shift_jis", "utf-16-le"} <= set(got.values())


def test_cli_stream_export_wet(spark, tmp_path, monkeypatch, capsys):
    """--stream --export-wet exports the streamed output as WET shards
    (previously the flag was silently ignored on the streaming path),
    with the identified-charset header carried through."""
    import os
    import sys as _sys

    from pyspark.sql import SparkSession

    from rust_html2text_spark.sources.corpus import (
        charset_pages_from_documents,
        load_documents,
    )

    inp = str(tmp_path / "in")
    charset_pages_from_documents(
        load_documents(spark, SF_DIR)
    ).limit(15).write.parquet(inp)
    out = str(tmp_path / "out")
    wet = str(tmp_path / "wet")
    monkeypatch.setattr(
        _sys, "argv",
        ["run_job.py", "--mode", "extract", "--charset-sniff", "--stream",
         "--input", inp, "--output", out, "--export-wet", wet,
         "--master", "local[4]"],
    )
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    sys.path.insert(0, str(REPO / "scripts"))
    import run_job

    run_job.main()
    summary = capsys.readouterr().out.strip().splitlines()[-1]
    assert "'wet_records': 15" in summary
    from rust_html2text_spark.sources.warc import (
        _file_chunks,
        iter_warc_records,
    )

    seen = set()
    for sh in os.listdir(wet):
        if sh.endswith(".gz"):
            for h, _ in iter_warc_records(
                _file_chunks(os.path.join(wet, sh))
            ):
                seen.add(h.get("warc-identified-content-charset"))
    assert {"cp1252", "shift_jis"} <= seen
