"""Main-content extraction (engine/extract.py + operators/extract.py):
boilerplate strip, candidate scoring, fallbacks, and the Spark operator's
parity with the single-process engine."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from rust_html2text_spark.engine.extract import (  # noqa: E402
    extract_main,
    extract_main_ex,
    extract_main_full,
    extract_main_node,
    strip_boilerplate,
)
from rust_html2text_spark.engine.htmlparse import parse_html  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

ARTICLE_PAGE = b"""<html><head><title>T</title></head><body>
<nav><a href="/">Home</a> <a href="/a">Archive</a> <a href="/b">About</a></nav>
<header><h1>Site name</h1><a href="/login">Log in</a></header>
<div id="content"><article>
<h2>The real story</h2>
<p>This is the first paragraph of the actual article, with enough prose,
commas, and more commas, to be clearly the main content.</p>
<p>A second paragraph follows, it also has real sentences, and it keeps
going for a while so the text mass is unmistakable.</p>
</article></div>
<div class="sidebar"><a href="/x">Related one</a>
<p>Subscribe to our newsletter for more amazing content every day!</p></div>
<footer><p>Copyright 2026. All rights reserved. Terms. Privacy.</p></footer>
</body></html>"""


@pytest.fixture(scope="module")
def spark():
    from rust_html2text_spark.plans.session import get_spark

    s = get_spark(master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_article_wins_and_chrome_is_gone():
    r = extract_main_ex(ARTICLE_PAGE, 80)
    assert r["winner_tag"] == "article"
    text = r["text"]
    assert "first paragraph of the actual article" in text
    assert "second paragraph" in text
    # every piece of chrome is stripped
    for junk in ("Home", "Log in", "Subscribe", "Copyright", "Related one"):
        assert junk not in text, junk
    assert r["n_candidates"] >= 1 and r["score"] > 0


def test_strip_boilerplate_tags_and_classes():
    dom = parse_html(
        b"<html><body><script>x()</script><style>p{}</style>"
        b'<div class="ad-banner">BUY</div><div id="comments"><p>spam</p></div>'
        b'<div id="main-content"><p>keep this content here please</p></div>'
        b"</body></html>"
    )
    strip_boilerplate(dom)
    from rust_html2text_spark.engine.htmlparse import serialize_html

    out = serialize_html(dom)
    assert "BUY" not in out and "spam" not in out and "x()" not in out
    assert "keep this content here" in out


def test_negative_class_with_positive_marker_is_kept():
    """'article-sidebar-note' hits both vocabularies → kept (content-ness
    claims win, per the published heuristic)."""
    dom = parse_html(
        b'<html><body><div class="article sidebar">'
        b"<p>ambiguous but kept</p></div></body></html>"
    )
    strip_boilerplate(dom)
    from rust_html2text_spark.engine.htmlparse import serialize_html

    assert "ambiguous but kept" in serialize_html(dom)


def test_fallback_to_body_when_nothing_scores():
    r = extract_main_ex(b"<html><body><table><tr><td>x</td></tr></table></body></html>", 80)
    assert r["winner_tag"] == "body"
    assert r["n_candidates"] == 0
    assert "x" in r["text"]


def test_link_density_penalizes_link_farms():
    """Two same-shaped divs; the link-farm one must lose even with more
    raw characters."""
    page = (
        b"<html><body>"
        b"<div><p>"
        + b" ".join(b'<a href="/l%d">link number %d</a>' % (i, i) for i in range(12))
        + b"</p></div>"
        b"<div><p>plain prose content, with commas, and sentences that make "
        b"it the obvious main body of the page, not a link list.</p></div>"
        b"</body></html>"
    )
    r = extract_main_ex(page, 80)
    assert "plain prose content" in r["text"]
    assert "link number 3" not in r["text"]


def test_leafish_div_counts_as_text_block():
    page = (
        b"<html><body><div id='wrap'><div>just raw text in a div, long "
        b"enough to carry signal, with a comma</div></div></body></html>"
    )
    r = extract_main_ex(page, 80)
    assert "just raw text in a div" in r["text"]


def test_rendering_inherits_engine_semantics():
    """The winner subtree renders through the normal engine: lists get
    bullets, headers get ##, wrapping applies."""
    page = (
        b"<html><body><nav><a href='/'>Home</a></nav><article>"
        b"<h2>Title here</h2><ul><li>alpha beta gamma delta epsilon zeta</li>"
        b"<li>eta theta iota kappa lambda mu</li></ul>"
        b"<p>closing prose paragraph, with a comma, and enough words.</p>"
        b"</article></body></html>"
    )
    text = extract_main(page, 40)
    assert "## Title here" in text
    assert "* alpha beta" in text
    assert all(len(line) <= 40 for line in text.splitlines())


def test_too_narrow_raises_like_render():
    from rust_html2text_spark.engine.errors import TooNarrow

    with pytest.raises(TooNarrow):
        extract_main(ARTICLE_PAGE, 0)


def test_deterministic():
    a = extract_main_ex(ARTICLE_PAGE, 80)
    b = extract_main_ex(ARTICLE_PAGE, 80)
    assert a == b


def test_extract_main_node_tie_breaks_document_order():
    """Two identical-scoring candidates → the earlier one wins."""
    page = (
        b"<html><body>"
        b"<div><p>twin paragraph content, with a comma, same mass here.</p></div>"
        b"<div><p>twin paragraph content, with a comma, same mass here.</p></div>"
        b"</body></html>"
    )
    dom = parse_html(page)
    winner, info = extract_main_node(dom)
    assert winner.kind == "element" and winner.name == "div"
    divs = [
        c
        for c in winner.parent.children
        if c.kind == "element" and c.name == "div"
    ]
    assert len(divs) == 2 and winner is divs[0]


def test_fuzz_extract_never_crashes_and_is_deterministic():
    """Hostile HTML through the full strip→score→render path: only the
    RenderError family may escape, and output is parallelism-independent
    (pure function of bytes)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from rust_html2text_spark.engine.errors import RenderError

    tag_soup = st.text(
        alphabet="<>/ab cp=\"'!-&#;x0汉\t\n", min_size=0, max_size=400
    )

    @settings(max_examples=300, deadline=None)
    @given(s=tag_soup, width=st.sampled_from([1, 10, 80]))
    def run(s, width):
        html = s.encode("utf-8")
        try:
            a = extract_main_ex(html, width)
        except RenderError:
            return
        b = extract_main_ex(html, width)
        assert a == b

    run()


def test_spark_extract_pages_matches_engine(spark):
    """The Spark operator must reproduce the single-process extraction per
    url (the same invariant render_pages holds)."""
    from rust_html2text_spark.engine.extract import extract_main_ex as ex
    from rust_html2text_spark.operators.extract import extract_pages
    from rust_html2text_spark.sources.corpus import (
        chrome_pages_from_documents,
        load_documents,
    )

    pages = chrome_pages_from_documents(load_documents(spark, SF_DIR)).limit(80)
    inputs = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    got = {r["url"]: r for r in extract_pages(pages, width=80).collect()}
    assert set(got) == set(inputs)
    for url, html in inputs.items():
        want = ex(html, 80)
        assert got[url]["text"] == want["text"], url
        assert got[url]["winner_tag"] == want["winner_tag"]
        assert got[url]["error"] is None


def test_extract_scan_pruned_to_url_html(spark, tmp_path):
    """Column pruning must reach the parquet scan (same invariant as
    render_pages: a 2-column kernel over a 5-column table must not drag
    text/lang/warc_ts through the 100 TB scan)."""
    from rust_html2text_spark.operators.extract import extract_pages
    from rust_html2text_spark.sources.corpus import (
        chrome_pages_from_documents,
        load_documents,
    )

    p = str(tmp_path / "chromepages")
    chrome_pages_from_documents(load_documents(spark, SF_DIR)).limit(
        40
    ).write.parquet(p)
    df = extract_pages(spark.read.parquet(p), width=80)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan  # one payload scan
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, "no parquet scan in plan"
    for line in scans:
        schema = line.split("ReadSchema:", 1)[1]
        assert "url" in schema and "html" in schema
        for unwanted in ("text", "lang", "warc_ts"):
            assert unwanted not in schema, line


def test_spark_extract_error_rows_not_task_failures(spark):
    from rust_html2text_spark.operators.extract import extract_pages

    df = spark.createDataFrame(
        [("u1", None), ("u2", b"<p>fine content here, with a comma</p>")],
        "url string, html binary",
    )
    rows = {r["url"]: r for r in extract_pages(df, width=80).collect()}
    assert rows["u1"]["error"] == "NullInput"
    assert rows["u2"]["error"] is None and "fine content" in rows["u2"]["text"]


META_PAGE = (
    b'<html lang=" fr "><head><title> Un   Titre </title>'
    b'<meta name="description" content="  la   description  ">'
    b'<meta property="og:title" content="OG">'
    b'<title>second title ignored</title>'
    b'<meta name="description" content="second ignored">'
    b'<link rel="stylesheet canonical" href=" https://ex.com/canon ">'
    b"</head><body><p>corps</p></body></html>"
)


def test_page_metadata_first_wins_and_collapses():
    from rust_html2text_spark.engine.metadata import page_metadata

    m = page_metadata(META_PAGE)
    assert m["title"] == "Un Titre"
    assert m["description"] == "la description"
    assert m["lang_attr"] == "fr"
    assert m["canonical"] == "https://ex.com/canon"  # multi-token rel
    assert m["og_title"] == "OG"


def test_page_metadata_absent_fields_none():
    from rust_html2text_spark.engine.metadata import page_metadata

    m = page_metadata(b"<html><body><p>x</p></body></html>")
    assert m == {
        "title": None,
        "description": None,
        "lang_attr": None,
        "canonical": None,
        "og_title": None,
        "robots": None,
    }


def test_page_metadata_robots_normalized():
    from rust_html2text_spark.engine.metadata import page_metadata

    m = page_metadata(
        b'<html><head><meta name="ROBOTS" content=" NoIndex , nofollow ">'
        b"</head><body><p>x</p></body></html>"
    )
    assert m["robots"] == "noindex,nofollow"


def test_extract_main_links_drops_chrome_edges():
    from rust_html2text_spark.engine.extract import extract_main_links

    links = extract_main_links(ARTICLE_PAGE)
    assert links == []  # the article body has no links

    page = ARTICLE_PAGE.replace(
        b"<p>A second paragraph",
        b'<p>See <a href="/ref">the reference, here</a>. A second paragraph',
    )
    links = extract_main_links(page)
    # no base_url given and the page has no <base>: target_abs is None
    assert links == [(0, "/ref", "the reference, here", 0, None)]
    links = extract_main_links(page, base_url="https://ex.org/dir/page")
    assert links == [
        (0, "/ref", "the reference, here", 0, "https://ex.org/ref")
    ]


def test_extract_main_links_img_alt_and_no_href():
    from rust_html2text_spark.engine.extract import extract_main_links

    page = (
        b"<html><body><article><p>prose with commas, and sentences, enough "
        b'to win the vote easily here. <a name="anchor-only">target</a> '
        b'<a href="/a"><img alt="alt text"> trailing</a>'
        b"</p></article></body></html>"
    )
    assert extract_main_links(page) == [(0, "/a", "alt text trailing", 0, None)]


def test_extract_main_links_nofollow_flag():
    from rust_html2text_spark.engine.extract import extract_main_links

    page = (
        b"<html><body><article><p>prose with commas, and sentences, enough "
        b'to win the candidate vote easily here. <a href="/f">followed</a> '
        b'<a href="/n" rel="NOFOLLOW noopener">sponsored</a>'
        b"</p></article></body></html>"
    )
    assert extract_main_links(page) == [
        (0, "/f", "followed", 0, None),
        (1, "/n", "sponsored", 1, None),
    ]


def test_spark_extract_links_and_metadata_match_engine(spark):
    from rust_html2text_spark.engine.extract import extract_main_links
    from rust_html2text_spark.engine.metadata import page_metadata
    from rust_html2text_spark.operators.extract import (
        extract_links,
        page_metadata_pages,
    )
    from rust_html2text_spark.sources.corpus import (
        chrome_pages_from_documents,
        load_documents,
    )

    pages = chrome_pages_from_documents(load_documents(spark, SF_DIR)).limit(60)
    inputs = {r["url"]: bytes(r["html"]) for r in pages.collect()}

    got_links: dict = {}
    for r in extract_links(pages).collect():
        got_links.setdefault(r["url"], []).append(
            (r["ordinal"], r["href"], r["anchor"], r["nofollow"], r["target_abs"])
        )
    for url, html in inputs.items():
        want = extract_main_links(html, base_url=url)
        assert sorted(got_links.get(url, [])) == sorted(want), url

    got_meta = {r["url"]: r for r in page_metadata_pages(pages).collect()}
    for url, html in inputs.items():
        want = page_metadata(html)
        row = got_meta[url]
        assert row["title"] == want["title"]
        assert row["lang_attr"] == want["lang_attr"]
        assert row["canonical"] == want["canonical"]
        assert row["error"] is None


def test_extract_main_full_fuses_three_ops():
    """The one-parse fusion must equal the three standalone functions."""
    from rust_html2text_spark.engine.extract import (
        extract_main_links,
    )
    from rust_html2text_spark.engine.metadata import page_metadata

    f = extract_main_full(ARTICLE_PAGE, 80)
    e = extract_main_ex(ARTICLE_PAGE, 80)
    assert f["text"] == e["text"] and f["winner_tag"] == e["winner_tag"]
    assert f["links"] == extract_main_links(ARTICLE_PAGE)
    assert f["meta"] == page_metadata(ARTICLE_PAGE)


def test_spark_extract_full_matches_engine_and_recovers_on_render_error(spark):
    from rust_html2text_spark.operators.extract import extract_pages_full
    from rust_html2text_spark.sources.corpus import (
        chrome_pages_from_documents,
        load_documents,
    )

    pages = chrome_pages_from_documents(load_documents(spark, SF_DIR)).limit(40)
    inputs = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    got = {r["url"]: r for r in extract_pages_full(pages, width=80).collect()}
    import json

    for url, html in inputs.items():
        want = extract_main_full(html, 80, base_url=url)
        row = got[url]
        assert row["text"] == want["text"]
        assert row["links_json"] == json.dumps(
            want["links"], separators=(",", ":")
        )
        assert row["title"] == want["meta"]["title"]
        assert row["canonical"] == want["meta"]["canonical"]

    # width=0 → every render raises TooNarrow, but links + metadata are
    # render-independent and must survive into the error rows
    err = {r["url"]: r for r in extract_pages_full(pages, width=0).collect()}
    for url in inputs:
        row = err[url]
        assert row["error"] == "TooNarrow" and row["text"] is None
        assert row["links_json"] is not None
        assert row["title"] is not None


def test_sink_resume_with_extract_operator(spark, tmp_path):
    """run_with_resume generalizes over the extraction tier: the same
    idempotent-bucket + lineage-metrics machinery drives extract_pages
    (CLI --mode extract)."""
    from rust_html2text_spark.operators.extract import extract_pages
    from rust_html2text_spark.sources.corpus import (
        chrome_pages_from_documents,
        load_documents,
    )
    from rust_html2text_spark.sources.sink import completed_buckets, run_with_resume

    pages = chrome_pages_from_documents(load_documents(spark, SF_DIR)).limit(40).cache()
    out = str(tmp_path / "out")
    s1 = run_with_resume(
        pages, out, num_buckets=3, operator=lambda p: extract_pages(p, width=80)
    )
    assert s1["buckets_skipped"] == 0 and completed_buckets(out) == {0, 1, 2}
    got = spark.read.parquet(f"{out}/bucket=*")
    assert got.count() == 40
    assert "winner_tag" in got.columns  # extract schema, not render schema
    s2 = run_with_resume(
        pages, out, num_buckets=3, operator=lambda p: extract_pages(p, width=80)
    )
    assert s2["buckets_skipped"] == 3 and s2["rows"] == 0


def test_streaming_extract_matches_batch(spark, tmp_path):
    """--stream --mode extract parity with the batch operator."""
    from rust_html2text_spark.operators.extract import extract_pages
    from rust_html2text_spark.sources.corpus import (
        chrome_pages_from_documents,
        load_documents,
    )
    from rust_html2text_spark.streaming.pipeline import (
        start_extraction_stream,
        stream_pages,
    )

    pages = chrome_pages_from_documents(load_documents(spark, SF_DIR)).limit(30)
    inp = str(tmp_path / "in")
    pages.write.parquet(inp)
    q = start_extraction_stream(
        stream_pages(spark, inp),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        mode="extract",
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["url"], r["text"], r["winner_tag"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    want = {
        (r["url"], r["text"], r["winner_tag"])
        for r in extract_pages(spark.read.parquet(inp), width=80).collect()
    }
    assert got == want and len(got) == 30


# ---------------------------------------------------------------------------
# Round 5: RFC-3986 link resolution + <base href>
# ---------------------------------------------------------------------------


def test_resolve_url_rfc3986_normal_examples():
    """RFC 3986 §5.4.1 normal examples (base http://a/b/c/d;p?q)."""
    from rust_html2text_spark.engine.extract import resolve_url

    base = "http://a/b/c/d;p?q"
    cases = {
        "g": "http://a/b/c/g",
        "./g": "http://a/b/c/g",
        "g/": "http://a/b/c/g/",
        "/g": "http://a/g",
        "//g": "http://g",
        "?y": "http://a/b/c/d;p?y",
        "g?y": "http://a/b/c/g?y",
        "#s": "http://a/b/c/d;p?q#s",
        "g#s": "http://a/b/c/g#s",
        ";x": "http://a/b/c/;x",
        "g;x": "http://a/b/c/g;x",
        "": "http://a/b/c/d;p?q",
        ".": "http://a/b/c/",
        "..": "http://a/b/",
        "../g": "http://a/b/g",
        "../..": "http://a/",
        "../../g": "http://a/g",
    }
    for ref, want in cases.items():
        assert resolve_url(base, ref) == want, (ref, resolve_url(base, ref))


def test_resolve_url_abnormal_and_edge_cases():
    from rust_html2text_spark.engine.extract import resolve_url

    base = "http://a/b/c/d;p?q"
    # RFC 3986 §5.4.2: dotdots past the root collapse to the root
    assert resolve_url(base, "../../../g") == "http://a/g"
    # absolute references pass through untouched, whatever the base
    assert resolve_url(base, "https://x/y") == "https://x/y"
    assert resolve_url(None, "https://x/y") == "https://x/y"
    assert resolve_url(base, "mailto:a@b") == "mailto:a@b"
    assert resolve_url(base, "javascript:void(0)") == "javascript:void(0)"
    # relative without a usable base: unusable edge, never a literal URL
    assert resolve_url(None, "/g") is None
    assert resolve_url("not a url", "/g") is None
    # surrounding whitespace is stripped before classification
    assert resolve_url(base, "  g  ") == "http://a/b/c/g"


def test_resolve_url_rejects_malformed_absolute_hrefs():
    """The absolute-URL fast path must not pass hrefs urlsplit rejects;
    the page-at-a-time resolver (hoisted base check) agrees with the
    one-href resolver on every case."""
    from rust_html2text_spark.engine.extract import _resolve_links, resolve_url

    base = "http://a/b/c/d;p?q"
    assert resolve_url(base, "http://[::bad") is None
    assert resolve_url(base, "https://a]b/") is None
    assert resolve_url(None, "http://[::bad") is None
    # NFKC turns U+FF0F (fullwidth solidus) into "/" inside the netloc
    assert resolve_url(base, "http://a／b.example/") is None
    # well-formed brackets and non-ASCII hosts still resolve
    assert resolve_url(base, "http://[::1]/x") == "http://[::1]/x"
    assert resolve_url(base, "http://bücher.example/") == "http://bücher.example/"
    hrefs = ["http://[::bad", "/g", "g", "https://x/y", "http://[::1]/", "mailto:a@b"]
    for page_base in (base, None, "not a url"):
        links = [(i, h, "", 0) for i, h in enumerate(hrefs)]
        assert [t[4] for t in _resolve_links(links, page_base)] == [
            resolve_url(page_base, h) for h in hrefs
        ]


def test_base_href_first_wins_and_relative_base():
    from rust_html2text_spark.engine.extract import extract_main_links

    page = (
        b'<html><head><base href="https://b1.example/x/">'
        b'<base href="https://b2.example/ignored/"></head>'
        b"<body><article><p>prose with commas, and sentences, enough "
        b'to win the candidate vote easily here. <a href="g">rel</a>'
        b"</p></article></body></html>"
    )
    links = extract_main_links(page, base_url="https://page.example/d/p")
    assert links[0][4] == "https://b1.example/x/g"  # WHATWG: first base wins
    # relative <base> resolves against the page URL first
    page2 = page.replace(b'https://b1.example/x/', b'/ctx/')
    links = extract_main_links(page2, base_url="https://page.example/d/p")
    assert links[0][4] == "https://page.example/ctx/g"
    # <base> present but no page URL: absolute base still usable
    links = extract_main_links(page)
    assert links[0][4] == "https://b1.example/x/g"
