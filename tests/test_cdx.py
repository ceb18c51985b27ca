"""CDXJ index source (sources/cdx.py): SURT urlkey codegen, line
parsing, file round trip (plain + gz), and fetch-plan selection."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="module")
def spark():
    from rust_html2text_spark.plans.session import get_spark

    s = get_spark(master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_surt_key_codegen(spark):
    from pyspark.sql import functions as F

    from rust_html2text_spark.sources.cdx import surt_key_col

    cases = {
        "https://www.Example.com/A/b?Q=1#frag": "com,example)/a/b?q=1",
        "http://sub.deep.example.org/": "org,example,deep,sub)/",
        "https://example.com": "com,example)/",
        "https://www.example.co.uk/x": "uk,co,example)/x",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {
        r["url"]: r["k"]
        for r in df.select("url", surt_key_col("url").alias("k")).collect()
    }
    assert got == cases
    # whole-stage codegen: no Python nodes in the plan
    plan = (
        df.select(surt_key_col("url").alias("k"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan


def test_parse_malformed_lines_survive(spark):
    from rust_html2text_spark.sources.cdx import parse_cdx_lines

    lines = spark.createDataFrame(
        [
            ('com,e)/a 20260101000000 {"url": "https://e.com/a", '
             '"mime": "text/html", "status": "200", "digest": "d1", '
             '"length": "10", "offset": "0", "filename": "f.warc.gz"}',),
            ("com,e)/b 20260101000001 {not json at all",),
            ("just-one-token",),
            ("",),
            ('com,e)/n 20260101000002 {"url": "https://e.com/n", '
             '"mime": "text/html", "status": "200", "digest": "d2", '
             '"length": "not-a-number", "offset": "12xyz", '
             '"filename": "f.warc.gz"}',),
        ],
        "value string",
    )
    got = parse_cdx_lines(lines).collect()
    assert len(got) == 5  # malformed lines survive as NULL-field rows
    ok = [r for r in got if r["url"] is not None]
    assert len(ok) == 2
    a = [r for r in ok if r["urlkey"] == "com,e)/a"][0]
    assert a["offset"] == 0 and a["length"] == 10
    bad = [r for r in got if r["urlkey"] == "com,e)/b"]
    assert bad[0]["url"] is None  # json malformed -> NULL fields
    # garbage numerics -> NULL, not an ANSI CAST_INVALID_INPUT failure
    n = [r for r in ok if r["urlkey"] == "com,e)/n"][0]
    assert n["offset"] is None and n["length"] is None


def test_cdxj_file_round_trip_and_selection(spark, tmp_path):
    from rust_html2text_spark.sources.cdx import (
        read_cdx,
        select_fetches,
        write_cdxj,
    )

    recs = [
        # two captures of the same payload: later timestamp must win
        dict(urlkey="com,e)/a", timestamp="20260101000000",
             url="https://e.com/a", mime="text/html", status="200",
             digest="D1", length=100, offset=0, filename="w1.warc.gz"),
        dict(urlkey="com,e)/a", timestamp="20260102000000",
             url="https://e.com/a", mime="text/html", status="200",
             digest="D1", length=100, offset=900, filename="w2.warc.gz"),
        # 404 and unwanted mime are dropped
        dict(urlkey="com,e)/gone", timestamp="20260101000000",
             url="https://e.com/gone", mime="text/html", status="404",
             digest="D2", length=5, offset=50, filename="w1.warc.gz"),
        dict(urlkey="com,e)/img", timestamp="20260101000000",
             url="https://e.com/img", mime="image/png", status="200",
             digest="D3", length=7, offset=60, filename="w1.warc.gz"),
        # a pdf capture survives
        dict(urlkey="com,e)/doc", timestamp="20260101000000",
             url="https://e.com/doc", mime="application/pdf",
             status="200", digest="D4", length=9, offset=70,
             filename="w1.warc.gz"),
    ]
    for name in ("idx.cdxj", "idx.cdxj.gz"):
        p = str(tmp_path / name)
        assert write_cdxj(p, recs) == 5
        plan = select_fetches(read_cdx(spark, p)).collect()
        got = {r["digest"]: r for r in plan}
        assert set(got) == {"D1", "D4"}
        assert got["D1"]["timestamp"] == "20260102000000"  # latest won
        assert got["D1"]["offset"] == 900
        assert got["D1"]["filename"] == "w2.warc.gz"
        assert got["D4"]["mime"] == "application/pdf"


def test_corpus_lines_parse_and_lanes_fire(spark):
    from pyspark.sql import functions as F

    from rust_html2text_spark.sources.cdx import (
        cdx_lines_from_documents,
        parse_cdx_lines,
        select_fetches,
    )
    from rust_html2text_spark.sources.corpus import load_documents

    docs = load_documents(spark, "/root/testdata/sf0.001")
    parsed = parse_cdx_lines(cdx_lines_from_documents(docs))
    n_docs = docs.count()
    assert parsed.count() == 2 * n_docs  # two captures per doc
    assert parsed.filter("url is null").count() == 0
    mimes = {r["mime"] for r in parsed.select("mime").distinct().collect()}
    assert mimes == {"text/html", "application/pdf", "text/xml"}
    plan = select_fetches(parsed)
    # one fetch per surviving doc, always the +1-day recrawl capture
    kept = plan.collect()
    assert all(r["offset"] % 1000 == 500 for r in kept)
    assert len(kept) == parsed.filter(
        "status = '200' and mime != 'text/xml'"
    ).count() / 2
    # codegen end to end: no Python nodes anywhere in the plan
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in s


def test_cdx_selected_range_read_matches_full_scan(spark, tmp_path):
    """The full index→fetch loop: WARC files written with a capture
    index, the index published as CDXJ, selection via select_fetches,
    then read_warc_ranges fetches ONLY the chosen members — and those
    rows are byte-identical to the same records in a full scan."""
    import os
    from datetime import datetime

    from rust_html2text_spark.sources.cdx import (
        read_cdx,
        select_fetches,
        write_cdxj,
    )
    from rust_html2text_spark.sources.warc import (
        read_warc_pages,
        read_warc_ranges,
        write_warc_file,
    )

    # two WARC files; the same payload body appears in both (digest dup)
    def rec(i, body=None):
        return (
            f"https://e{i % 3}.example/p{i}",
            datetime(2026, 1, 1 + i),
            body or f"<html><body>page {i} body</body></html>".encode(),
        )

    idx = []
    f1 = str(tmp_path / "w1.warc.gz")
    f2 = str(tmp_path / "w2.warc.gz")
    write_warc_file(f1, [rec(0), rec(1), rec(2)], index_out=idx)
    write_warc_file(
        f2, [rec(3), rec(4, b"<html><body>page 1 body</body></html>")],
        index_out=idx,
    )
    # rec(4) carries rec(1)'s exact body: a true cross-file digest dup
    # the selection must collapse to one fetch
    assert len(idx) == 5
    assert idx[1]["digest"] == idx[4]["digest"]

    cdx_path = str(tmp_path / "idx.cdxj.gz")
    write_cdxj(
        cdx_path,
        [
            dict(
                urlkey=f"key/{e['url']}",
                timestamp=e["timestamp"],
                url=e["url"],
                mime="text/html",
                status="200",
                digest=e["digest"],
                length=e["length"],
                offset=e["offset"],
                filename=e["filename"],
            )
            for e in idx
        ],
    )
    plan = select_fetches(read_cdx(spark, cdx_path))
    chosen = plan.collect()
    digests = [r["digest"] for r in chosen]
    assert len(digests) == len(set(digests))

    got = read_warc_ranges(
        spark, plan, base_dir=str(tmp_path), include_charset_col=True
    ).collect()
    assert len(got) == len(chosen)
    full = {
        (r["url"], r["warc_ts"]): bytes(r["html"])
        for r in read_warc_pages(spark, [f1, f2]).collect()
    }
    for r in got:
        assert bytes(r["html"]) == full[(r["url"], r["warc_ts"])]
        assert r["http_charset"] == "utf-8"

    # bad offsets / missing files are skipped, never task failures
    bad = spark.createDataFrame(
        [("w1.warc.gz", 10**9, 100), ("nope.warc.gz", 0, 10)]
        + [(r["filename"], r["offset"], r["length"]) for r in chosen[:1]],
        "filename string, offset long, length long",
    )
    survivors = read_warc_ranges(spark, bad, base_dir=str(tmp_path)).collect()
    assert len(survivors) == 1


def test_cli_cdx_mode_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """spark-submit surface: --input-format auto detects a .cdxj.gz
    index, range-reads the selected members, and runs the normal
    resumable render job over exactly those pages."""
    import sys as _sys
    from datetime import datetime

    from rust_html2text_spark.sources.cdx import write_cdxj
    from rust_html2text_spark.sources.warc import write_warc_file

    idx = []
    f1 = str(tmp_path / "seg.warc.gz")
    write_warc_file(
        f1,
        [
            (f"https://e.example/p{i}", datetime(2026, 1, 1),
             f"<html><body>cli page {i}, with text.</body></html>".encode())
            for i in range(6)
        ],
        index_out=idx,
    )
    cdx_path = str(tmp_path / "seg.cdxj.gz")
    write_cdxj(
        cdx_path,
        [
            dict(urlkey=f"k{j}", timestamp=e["timestamp"], url=e["url"],
                 mime="text/html",
                 status="200" if j != 4 else "404",  # one capture dropped
                 digest=e["digest"], length=e["length"],
                 offset=e["offset"], filename=e["filename"])
            for j, e in enumerate(idx)
        ],
    )
    out = str(tmp_path / "out")
    monkeypatch.setattr(
        _sys, "argv",
        ["run_job.py", "--input", cdx_path, "--output", out,
         "--buckets", "2", "--master", "local[4]"],
    )
    # main() stops its session on exit; keep the module-scoped one alive
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    sys.path.insert(0, str(REPO / "scripts"))
    import run_job

    run_job.main()
    summary = capsys.readouterr().out.strip().splitlines()[-1]
    assert "'rows': 5" in summary  # 6 captures minus the 404
    got = spark.read.parquet(out)
    assert got.count() == 5
    assert got.filter("text like '%cli page%'").count() == 5
    assert got.filter("error is not null").count() == 0


def test_language_slice_and_parquet_pushdown(spark, tmp_path):
    """CC-index language fields pass through; a language-targeted
    selection keeps only matching captures; and when the parsed index
    is parquet-materialized the selection's status/mime filters reach
    the scan (PushedFilters) — the 100 TB shape is parse-once,
    materialize, then slice many times."""
    from rust_html2text_spark.sources.cdx import (
        parse_cdx_lines,
        select_fetches,
    )

    mk = (
        '{kind} 2026010100000{i} {{"url": "https://e/{i}", '
        '"mime": "text/html", "status": "200", "digest": "D{i}", '
        '"length": "9", "offset": "{i}", "filename": "f.warc.gz"'
        "{extra}}}"
    )
    lines = spark.createDataFrame(
        [
            (mk.format(kind="k0", i=0, extra=', "languages": "eng"'),),
            (mk.format(kind="k1", i=1,
                       extra=', "languages": "eng,deu", "charset": "UTF-8"'),),
            (mk.format(kind="k2", i=2, extra=', "languages": "zho"'),),
            (mk.format(kind="k3", i=3, extra=""),),  # no language detected
        ],
        "value string",
    )
    parsed = parse_cdx_lines(lines)
    assert {r["languages"] for r in parsed.collect()} == {
        "eng", "eng,deu", "zho", None,
    }
    got = select_fetches(parsed, languages=("eng",)).collect()
    assert sorted(r["digest"] for r in got) == ["D0", "D1"]
    assert select_fetches(parsed).count() == 4  # no slice -> all pass

    # materialized index: the selection filters push to the parquet scan
    idx_path = str(tmp_path / "index.parquet")
    parsed.write.parquet(idx_path)
    plan = (
        select_fetches(spark.read.parquet(idx_path))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan
    # a single-element isin compiles to EqualTo; mime stays an In
    assert "EqualTo(status,200)" in plan and "In(mime" in plan


def test_unquoted_numeric_json_fields_coerce(spark):
    """Some CDXJ writers emit status/length/offset as bare JSON numbers;
    from_json coerces them into the string/bigint schema instead of
    NULLing the row."""
    from rust_html2text_spark.sources.cdx import parse_cdx_lines

    lines = spark.createDataFrame(
        [('k 20260101000000 {"url": "https://e/1", "mime": "text/html", '
          '"status": 200, "digest": "D", "length": 9, "offset": 1234, '
          '"filename": "f"}',)],
        "value string",
    )
    r = parse_cdx_lines(lines).collect()[0]
    assert r["status"] == "200" and r["offset"] == 1234 and r["length"] == 9
