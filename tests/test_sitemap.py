"""Sitemap parsing (functions/sitemap.py): sitemaps.org urlset /
sitemapindex semantics, field validation, the 50k-URL protocol cap,
entity expansion through the house XML parser, and Spark parity."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from rust_html2text_spark.functions.sitemap import (  # noqa: E402
    MAX_SITEMAP_URLS,
    parse_sitemap,
)


@pytest.fixture(scope="module")
def spark():
    from rust_html2text_spark.plans.session import get_spark

    s = get_spark(master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
<url><loc>https://h.example/a</loc><lastmod>2026-01-02</lastmod>
<changefreq>WEEKLY</changefreq><priority>0.8</priority></url>
<url><loc>https://h.example/b?x=1&amp;y=2</loc></url>
<url><lastmod>2026-02-02</lastmod></url>
<url><loc>https://h.example/c</loc><changefreq>sometimes</changefreq>
<priority>1.5</priority></url>
<url><loc>https://h.example/d</loc><priority>not-a-number</priority></url>
</urlset>
"""


def test_urlset_fields_and_validation():
    sm = parse_sitemap(URLSET)
    assert sm.kind == "urlset" and sm.truncated is False
    # the loc-less entry is dropped (loc is the only required field)
    assert [e.loc for e in sm.entries] == [
        "https://h.example/a",
        "https://h.example/b?x=1&y=2",  # entity expanded
        "https://h.example/c",
        "https://h.example/d",
    ]
    a, b, c, d = sm.entries
    assert a.lastmod == "2026-01-02"
    assert a.changefreq == "weekly"  # case-normalized
    assert a.priority == 0.8
    assert b.lastmod is None and b.priority is None
    # invalid changefreq vocab / out-of-range or non-numeric priority
    # degrade to None, never drop the entry
    assert c.changefreq is None and c.priority is None
    assert d.priority is None


def test_loc_must_be_absolute_and_bounded():
    """sitemaps.org: loc must begin with the protocol and stay under
    2,048 chars — relative / scheme-less / oversized locs drop."""
    long_loc = "https://h.example/" + "x" * 2048
    xml = (
        "<urlset>"
        "<url><loc>/relative/path</loc></url>"
        "<url><loc>h.example/no-scheme</loc></url>"
        f"<url><loc>{long_loc}</loc></url>"
        "<url><loc>https://h.example/kept</loc></url>"
        "</urlset>"
    )
    sm = parse_sitemap(xml)
    assert [e.loc for e in sm.entries] == ["https://h.example/kept"]


def test_sitemapindex_kind():
    xml = (
        "<sitemapindex><sitemap><loc>https://h.example/sm1.xml.gz</loc>"
        "<lastmod>2026-03-01</lastmod></sitemap>"
        "<sitemap><loc>https://h.example/sm2.xml.gz</loc></sitemap>"
        "<url><loc>https://ignored.example/</loc></url>"
        "</sitemapindex>"
    )
    sm = parse_sitemap(xml)
    assert sm.kind == "sitemapindex"
    assert [e.loc for e in sm.entries] == [
        "https://h.example/sm1.xml.gz",
        "https://h.example/sm2.xml.gz",
    ]
    assert sm.entries[0].lastmod == "2026-03-01"


def test_namespace_prefixed_elements():
    xml = (
        '<sm:urlset xmlns:sm="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<sm:url><sm:loc>https://h.example/p</sm:loc></sm:url></sm:urlset>"
    )
    sm = parse_sitemap(xml)
    assert sm is not None and [e.loc for e in sm.entries] == [
        "https://h.example/p"
    ]


def test_non_sitemap_documents_return_none():
    assert parse_sitemap("<html><body>hi</body></html>") is None
    assert parse_sitemap("not xml at all <<<") is None
    assert parse_sitemap("") is None


def test_url_cap_sets_truncated():
    assert MAX_SITEMAP_URLS == 50_000  # the published protocol limit
    body = "".join(
        f"<url><loc>https://h.example/p{i}</loc></url>" for i in range(40)
    )
    sm = parse_sitemap(f"<urlset>{body}</urlset>", max_urls=25)
    assert sm.truncated is True
    assert len(sm.entries) == 25
    assert sm.entries[-1].loc == "https://h.example/p24"
    full = parse_sitemap(f"<urlset>{body}</urlset>")
    assert full.truncated is False and len(full.entries) == 40


def test_spark_entries_match_scalar_parser(spark):
    """sitemap_entries == per-row parse_sitemap over the corpus, and
    unparseable/NULL rows emit nothing."""
    from rust_html2text_spark.functions.sitemap import sitemap_entries
    from rust_html2text_spark.sources.corpus import (
        load_documents,
        sitemaps_from_documents,
    )

    sitemaps = sitemaps_from_documents(
        load_documents(spark, "/root/testdata/sf0.001")
    )
    raw = {r["host"]: r["sitemap_xml"] for r in sitemaps.collect()}
    got = sitemap_entries(sitemaps).collect()
    want = []
    for host, xml in raw.items():
        sm = parse_sitemap(xml)
        for i, e in enumerate(sm.entries, start=1):
            want.append((host, sm.kind, i, e.loc, e.lastmod,
                         e.changefreq, e.priority, sm.truncated))
    assert sorted(
        (r["host"], r["sitemap_kind"], r["ordinal"], r["loc"],
         r["lastmod"], r["changefreq"], r["priority"], r["truncated"])
        for r in got
    ) == sorted(want)
    assert len(want) > 500  # the corpus genuinely exploded

    bad = spark.createDataFrame(
        [("h1", "<html>nope</html>"), ("h2", None)],
        "host string, sitemap_xml string",
    )
    assert sitemap_entries(bad).count() == 0


def test_decode_sitemap_gzip_and_bom():
    import gzip

    from rust_html2text_spark.functions.sitemap import (
        decode_sitemap,
        parse_sitemap,
    )

    xml = '<urlset><url><loc>https://h.example/a</loc></url></urlset>'
    gz = gzip.compress(("﻿" + xml).encode("utf-8"), mtime=0)
    # bytes in (gzipped, BOM'd) -> same parse as the plain string
    assert parse_sitemap(gz).entries == parse_sitemap(xml).entries
    assert decode_sitemap(xml) == xml  # str passthrough
    assert decode_sitemap(None) is None
    # a gzip bomb is rejected under the budget, not inflated
    bomb = gzip.compress(b"<urlset>" + b"A" * 4_000_000, mtime=0)
    assert decode_sitemap(bomb, max_bytes=1_000_000) is None
    # truncated/garbage gzip is None, never an exception
    assert decode_sitemap(gz[:10]) is None
    assert decode_sitemap(b"\x1f\x8b\x00junk") is None


def test_recrawl_priority_semantics(spark):
    """due_cycles: lastmod-less entries score exactly 1.0; fresh pages
    near 0; long-stale pages clamp at 10; the publisher <priority>
    scales the final score; 'never' still gets a (slow) revisit lane."""
    from rust_html2text_spark.functions.sitemap import recrawl_priority

    entries = spark.createDataFrame(
        [
            ("h", "urlset", 1, "https://h/x1", None, "daily", 0.8, False),
            ("h", "urlset", 2, "https://h/x2", "2026-02-28", "daily",
             1.0, False),
            ("h", "urlset", 3, "https://h/x3", "2020-01-01", "daily",
             0.2, False),
            ("h", "urlset", 4, "https://h/x4", "2026-02-01", None,
             None, False),
            ("h", "urlset", 5, "https://h/x5", "2020-01-01", "never",
             1.0, False),
            # W3C datetime forms: Zulu, zone offset; and hostile garbage
            ("h", "urlset", 6, "https://h/x6", "2026-02-28T12:00:00Z",
             "daily", 0.5, False),
            ("h", "urlset", 7, "https://h/x7",
             "2026-02-28T12:00:00+02:00", "daily", 0.5, False),
            ("h", "urlset", 8, "https://h/x8", "not-a-date", "daily",
             0.5, False),
        ],
        "host string, sitemap_kind string, ordinal int, loc string, "
        "lastmod string, changefreq string, priority double, "
        "truncated boolean",
    )
    got = {
        r["loc"]: r
        for r in recrawl_priority(entries, now="2026-03-01 00:00:00").collect()
    }
    assert got["https://h/x1"]["age_secs"] is None
    assert got["https://h/x1"]["due_cycles"] == 1.0
    assert got["https://h/x1"]["recrawl_score"] == 0.8
    assert got["https://h/x2"]["due_cycles"] == 1.0  # exactly one day old
    assert got["https://h/x3"]["due_cycles"] == 10.0  # clamped
    assert got["https://h/x3"]["recrawl_score"] == 2.0
    # no changefreq -> default weekly; no priority -> 0.5 weight
    x4 = got["https://h/x4"]
    assert x4["due_cycles"] == x4["age_secs"] / 604800
    assert x4["recrawl_score"] == x4["due_cycles"] * 0.5
    # 'never' is a slow lane, not a dead one
    x5 = got["https://h/x5"]
    assert 0.0 < x5["due_cycles"] < 10.0
    # W3C datetimes parse (offset honored); garbage degrades to
    # due-now instead of an ANSI CANNOT_PARSE_TIMESTAMP task failure
    assert got["https://h/x6"]["age_secs"] == 43200.0
    assert got["https://h/x7"]["age_secs"] == 50400.0
    assert got["https://h/x8"]["age_secs"] is None
    assert got["https://h/x8"]["due_cycles"] == 1.0
