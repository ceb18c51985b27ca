"""Deterministic synthetic Common-Crawl-style page corpus.

Builds the input table of the north rule —
(url: string, warc_ts: timestamp, html: binary, text: string, lang: string)
— from the driver-generated `documents` parquet, entirely with JVM-side
built-in expressions (no Python UDF, no randomness): page archetypes
(paragraphs / lists / tables / mixed, mirroring the reference benchmark
shapes at /root/reference/benches/tables.rs:13-25) are selected by
`doc_id % 4`, and a skew knob concentrates a fraction of rows onto few
hosts plus oversized pages, the input layouts a caller spreads with a
url-hash repartition before the kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def _escaped(col):
    e = F.regexp_replace(col, "&", "&amp;")
    e = F.regexp_replace(e, "<", "&lt;")
    return F.regexp_replace(e, ">", "&gt;")


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def pages_from_documents(
    docs: DataFrame,
    skew_fraction: float = 0.0,
    oversize_every: int = 0,
) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) → pages table.

    skew_fraction: that fraction of rows gets the same host (hot-host skew).
    oversize_every: every Nth row repeats its body 50x (oversized pages).
    """
    esc = _escaped(F.col("text"))
    words = F.split(esc, " ")
    nwords = F.size(words)

    para = F.concat(F.lit("<p>"), esc, F.lit("</p>"))

    # list page: one <li> per 8-word chunk
    chunk = F.array_join(F.slice(words, 1, 8), " ")
    chunk2 = F.array_join(
        F.slice(words, 9, F.greatest(nwords - F.lit(8), F.lit(1))), " "
    )
    list_page = F.concat(
        F.lit("<h2>Contents</h2><ul><li>"),
        chunk,
        F.lit("</li><li>"),
        chunk2,
        F.lit("</li></ul>"),
    )

    # table page: 2x2 grid of word chunks (benches/tables.rs shape)
    c00 = F.array_join(F.slice(words, 1, 4), " ")
    c01 = F.array_join(F.slice(words, 5, 4), " ")
    c10 = F.array_join(F.slice(words, 9, 4), " ")
    c11 = F.array_join(F.slice(words, 13, 4), " ")
    table_page = F.concat(
        F.lit("<h1>Data</h1><table><tr><td>"),
        c00,
        F.lit("</td><td>"),
        c01,
        F.lit("</td></tr><tr><td>"),
        c10,
        F.lit("</td><td>"),
        c11,
        F.lit("</td></tr></table><p>"),
        esc,
        F.lit("</p>"),
    )

    # mixed page: header, blockquote, link with footnote, pre block
    mixed_page = F.concat(
        F.lit("<h1>Report</h1><blockquote>"),
        chunk,
        F.lit('</blockquote><p>See <a href="https://example.com/'),
        F.col("doc_id").cast("string"),
        F.lit('">the source</a> for details.</p><pre>'),
        chunk2,
        F.lit("</pre><p>"),
        esc,
        F.lit("</p>"),
    )

    arche = F.col("doc_id") % 4
    body = (
        F.when(arche == 0, para)
        .when(arche == 1, list_page)
        .when(arche == 2, table_page)
        .otherwise(mixed_page)
    )
    if oversize_every and oversize_every > 0:
        body = F.when(
            F.col("doc_id") % oversize_every == 0, F.repeat(body, 50)
        ).otherwise(body)
    html_str = F.concat(F.lit("<html><body>"), body, F.lit("</body></html>"))

    if skew_fraction > 0:
        bucket = 1.0 / skew_fraction
        host = F.when(
            F.col("doc_id") % F.lit(int(bucket)) == 0, F.lit("hot.example.com")
        ).otherwise(F.concat(F.lit("www."), F.col("source"), F.lit(".example.com")))
    else:
        host = F.concat(F.lit("www."), F.col("source"), F.lit(".example.com"))

    return docs.select(
        F.concat(
            F.lit("https://"), host, F.lit("/doc/"), F.col("doc_id").cast("string")
        ).alias("url"),
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang").alias("lang"),
    )


def chrome_pages_from_documents(docs: DataFrame) -> DataFrame:
    """pages table whose html wraps each document body in realistic site
    chrome (nav / masthead / sidebar / footer) around an <article> — the
    boilerplate-strip test corpus for the main-content extractor.  Same
    codegen-only construction as pages_from_documents; the Python replica
    is synthesize_chrome_page_py (pinned equal by test)."""
    base = pages_from_documents(docs)
    inner = docs.select(
        F.col("doc_id"),
        F.col("source"),
        F.col("lang"),
    )
    # re-derive the body from the plain page html (strip the fixed wrapper)
    body = F.expr(
        "substring(decode(html, 'UTF-8'), 13, "
        "length(decode(html, 'UTF-8')) - 26)"
    )
    did = F.col("doc_id").cast("string")
    chrome = F.concat(
        F.lit('<html lang="'),
        F.col("lang"),
        F.lit('"><head><title>Doc '),
        did,
        F.lit('</title><meta name="description" content="Doc '),
        did,
        F.lit(" from the "),
        F.col("source"),
        F.lit(' journal"><meta property="og:title" content="Doc '),
        did,
        F.lit('"><link rel="canonical" href="https://www.'),
        F.col("source"),
        F.lit(".example.com/doc/"),
        did,
        F.lit('">'),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit('<meta name="robots" content="noindex, nofollow">'),
        ).otherwise(F.lit("")),
        # base-URL lanes: resolution of relative hrefs must be exercised
        # against <base href> (absolute and page-relative, WHATWG
        # first-wins) as well as the plain page URL
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit('<base href="https://static.'),
                F.col("source"),
                F.lit('.example.net/app/">'),
            ),
        )
        .when(F.col("doc_id") % 5 == 3, F.lit('<base href="/ctx/a/">'))
        .otherwise(F.lit("")),
        F.lit('</head><body><nav><a href="/">Home</a> '),
        F.lit('<a href="/archive">Archive</a> <a href="/about">About us</a> '),
        F.lit('<a href="/contact">Contact</a></nav><header><h1>The '),
        F.col("source"),
        F.lit(' journal</h1><a href="/login">Log in</a></header>'),
        F.lit('<div id="content"><article>'),
        body,
        # in-content reference links in the href shapes a real crawl is
        # full of: path-relative, root-relative, dotdot, protocol-
        # relative, fragment-only, and non-hierarchical (mailto)
        F.lit('<p class="refs">Further reading for this article: '),
        F.lit('the <a href="notes/'),
        did,
        F.lit('.html">annotated notes</a>, a list of <a href="/rel/'),
        did,
        F.lit('">related articles</a>, the <a href="../up/'),
        did,
        F.lit('">archive copy</a>, a <a href="//cdn.example.org/r/'),
        did,
        F.lit('">mirror</a>, a <a href="/search?q=doc+'),
        did,
        F.lit('">site search</a>, the <a href="/doc/'),
        did,
        F.lit('?sid=ref">stable link</a>, '),
        F.lit('the <a href="#comments">comments</a> below, '),
        F.lit('and <a href="mailto:editor@'),
        F.col("source"),
        F.lit('.example.com">the editor</a>.</p>'),
        F.lit('</article></div><div class="sidebar"><h3>Related</h3>'),
        F.lit('<p><a href="/doc/'),
        (F.col("doc_id") + 1).cast("string"),
        F.lit('">Next article</a> <a href="/doc/'),
        (F.col("doc_id") - 1).cast("string"),
        F.lit('">Previous article</a></p><p>Subscribe to the newsletter!</p>'),
        F.lit("</div><footer><p>Copyright 2026 The "),
        F.col("source"),
        F.lit(' journal. All rights reserved. <a href="/terms">Terms</a> '),
        F.lit('<a href="/privacy">Privacy</a></p></footer></body></html>'),
    )
    with_body = docs.select("doc_id", "source", "lang").join(
        base.withColumn(
            "doc_id",
            F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long"),
        ).select("doc_id", "url", "warc_ts", "html"),
        "doc_id",
    )
    return with_body.select(
        "url",
        "warc_ts",
        F.encode(chrome, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang").alias("lang"),
    )


def synthesize_chrome_page_py(
    doc_id: int, text: str, source: str, lang: str = "en"
) -> tuple[str, bytes]:
    """Single-process replica of chrome_pages_from_documents — byte-
    identical chrome wrapping of the same body."""
    url, plain = synthesize_page_py(doc_id, text, source)
    body = plain.decode("utf-8")[len("<html><body>") : -len("</body></html>")]
    chrome = (
        f'<html lang="{lang}"><head><title>Doc {doc_id}</title>'
        f'<meta name="description" content="Doc {doc_id} from the '
        f'{source} journal"><meta property="og:title" content="Doc {doc_id}">'
        f'<link rel="canonical" href="https://www.{source}.example.com'
        f'/doc/{doc_id}">'
        + (
            '<meta name="robots" content="noindex, nofollow">'
            if doc_id % 7 == 0
            else ""
        )
        + (
            f'<base href="https://static.{source}.example.net/app/">'
            if doc_id % 5 == 0
            else ('<base href="/ctx/a/">' if doc_id % 5 == 3 else "")
        )
        + "</head><body>"
        f'<nav><a href="/">Home</a> <a href="/archive">Archive</a> '
        f'<a href="/about">About us</a> <a href="/contact">Contact</a></nav>'
        f'<header><h1>The {source} journal</h1>'
        f'<a href="/login">Log in</a></header>'
        f'<div id="content"><article>{body}'
        f'<p class="refs">Further reading for this article: '
        f'the <a href="notes/{doc_id}.html">annotated notes</a>, '
        f'a list of <a href="/rel/{doc_id}">related articles</a>, '
        f'the <a href="../up/{doc_id}">archive copy</a>, '
        f'a <a href="//cdn.example.org/r/{doc_id}">mirror</a>, '
        f'a <a href="/search?q=doc+{doc_id}">site search</a>, '
        f'the <a href="/doc/{doc_id}?sid=ref">stable link</a>, '
        f'the <a href="#comments">comments</a> below, '
        f'and <a href="mailto:editor@{source}.example.com">the editor</a>.</p>'
        f"</article></div>"
        f'<div class="sidebar"><h3>Related</h3>'
        f'<p><a href="/doc/{doc_id + 1}">Next article</a> '
        f'<a href="/doc/{doc_id - 1}">Previous article</a></p>'
        f"<p>Subscribe to the newsletter!</p></div>"
        f"<footer><p>Copyright 2026 The {source} journal. All rights "
        f'reserved. <a href="/terms">Terms</a> '
        f'<a href="/privacy">Privacy</a></p></footer></body></html>'
    )
    return url, chrome.encode("utf-8")


def synthesize_charset_page_py(
    doc_id: int, text: str, source: str, lang: str = "en"
) -> tuple[str, bytes]:
    """Charset-lane variant of the chrome page: the SAME page content,
    but encoded per `doc_id % 5` in the byte shapes a real crawl is full
    of — (0) UTF-8 with BOM, (1) windows-1252 declared via <meta
    charset>, (2) Shift_JIS declared via http-equiv, (3) UTF-16LE with
    BOM, (4) undeclared ASCII-safe fallback.  Each lane injects a
    non-ASCII marker paragraph so a wrong decode is visible in the
    extracted text, not just in the lineage columns.  Unencodable chars
    degrade to '?' (errors=replace) — deterministic on both the corpus
    and oracle sides."""
    _, chrome = synthesize_chrome_page_py(doc_id, text, source, lang)
    s = chrome.decode("utf-8")
    url = f"https://www.{source}.example.com/cs/{doc_id}"
    lane = doc_id % 5
    if lane == 0:
        enc, bom, meta = "utf-8", b"\xef\xbb\xbf", ""
        marker = "BOM lane — naïve café résumé"
    elif lane == 1:
        enc, bom = "cp1252", b""
        meta = '<meta charset="windows-1252">'
        marker = (
            "cp1252 lane — “smart quotes” – "
            "dashes — café"
        )
    elif lane == 2:
        enc, bom = "shift_jis", b""
        meta = (
            '<meta http-equiv="Content-Type" '
            'content="text/html; charset=Shift_JIS">'
        )
        marker = "sjis lane 日本語のテキスト"
    elif lane == 3:
        enc, bom, meta = "utf-16-le", b"\xff\xfe", ""
        marker = "utf16 lane — 混合テキスト café"
    else:
        enc, bom, meta = "utf-8", b"", ""
        marker = "plain ascii fallback lane"
    s = s.replace("</head>", meta + "</head>", 1)
    s = s.replace(
        "</article>", f'<p class="cs">{marker}</p></article>', 1
    )
    return url, bom + s.encode(enc, errors="replace")


def charset_pages_from_documents(docs: DataFrame) -> DataFrame:
    """Charset-lane pages table (url, html).  Python-synthesized via
    mapInPandas — Spark's encode() supports only the unicode family +
    ISO-8859-1, and this corpus exists precisely to exercise
    windows-1252/Shift_JIS byte shapes that codegen cannot produce.
    Test/oracle corpus only; the hot bench lanes stay codegen."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("url", StringType()), StructField("html", BinaryType())]
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            urls, htmls = [], []
            for did, text, source, lang in zip(
                batch["doc_id"], batch["text"], batch["source"], batch["lang"]
            ):
                u, h = synthesize_charset_page_py(int(did), text, source, lang)
                urls.append(u)
                htmls.append(h)
            yield pd.DataFrame({"url": urls, "html": htmls})

    return docs.select("doc_id", "text", "source", "lang").mapInPandas(
        build, schema
    )


def robots_txt_for_host(host: str) -> str:
    """Deterministic robots.txt for a corpus host, exercising the RFC
    9309 surface: a non-matching named group (must be skipped for any
    other product token), a PREFIX-of-our-token group (`spark-graft` —
    must be skipped under §2.2.1 exact token matching; a prefix matcher
    would wrongly let it govern `spark-graft-bot` and block everything),
    prefix rules, a longer Allow override, query-string rules (matching
    is against path+query), a `$`-anchored wildcard (www hosts only),
    host-conditional rules (even-length hosts), a `Crawl-delay` for
    even-length hosts, and a host-wide `Sitemap` line."""
    lines = [
        "# synthetic robots corpus",
        "User-agent: other-bot",
        "Disallow: /",
        "",
        "User-agent: spark-graft",
        "Disallow: /",
        "",
        "User-agent: *",
        "Disallow: /up/",
        "Disallow: /login",
        "Allow: /up/open",
        "Disallow: /search?",
        "Disallow: /*?sid=",
    ]
    if host.startswith("www."):
        lines.append("Disallow: /pdf/*3$")
    if len(host) % 2 == 0:
        lines.append("Disallow: /rel/")
        lines.append("Allow: /rel/2")
        lines.append("Crawl-delay: 2")
    lines.append("")
    lines.append(f"Sitemap: https://{host}/sitemap.xml")
    return "\n".join(lines) + "\n"


def robots_for_frontier(edges: DataFrame, target_col: str = "target") -> DataFrame:
    """(host, robots_txt) for every distinct host in a frontier edge
    list — the robots corpus the gate consumes."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    from rust_html2text_spark.functions.robots import HOST_RE

    hosts = edges.select(
        F.regexp_extract(F.col(target_col), HOST_RE, 1).alias("host")
    ).distinct()

    schema = StructType(
        [StructField("host", StringType()), StructField("robots_txt", StringType())]
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            hs = [h for h in batch["host"] if h]
            yield pd.DataFrame(
                {"host": hs, "robots_txt": [robots_txt_for_host(h) for h in hs]}
            )

    return hosts.mapInPandas(build, schema)


def sitemap_xml_for_host(host: str, doc_ids: list[int]) -> str:
    """Deterministic sitemap.xml (sitemaps.org urlset) for a corpus
    host: one <url> per document with lane-conditional optional fields
    (lastmod absent at doc_id%3==1, changefreq absent at %4==2,
    priority absent at %5==3), plus one trailing query-string entry
    whose loc carries an XML entity (&amp;) — the parser must expand
    it.  Every sixth document is listed under `/up/` — a URL the same
    host's robots.txt DISALLOWS (publishers list robots-blocked URLs in
    sitemaps constantly; the downstream gate must catch them).  Every
    field derives from doc_id arithmetic so a SQL oracle can
    reconstruct the parsed rows without any XML machinery."""
    lines = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
    ]
    for did in sorted(doc_ids):
        path = "up" if did % 6 == 0 else "doc"
        lines.append("<url>")
        lines.append(f"<loc>https://{host}/{path}/{did}</loc>")
        if did % 3 != 1:
            lines.append(f"<lastmod>2026-01-{did % 28 + 1:02d}</lastmod>")
        if did % 4 != 2:
            freq = ("daily", "weekly", "monthly")[did % 3]
            lines.append(f"<changefreq>{freq}</changefreq>")
        if did % 5 != 3:
            lines.append(f"<priority>{(did % 11) / 10:.1f}</priority>")
        lines.append("</url>")
    lines.append(
        f"<url><loc>https://{host}/list?a=1&amp;b=2</loc></url>"
    )
    lines.append("</urlset>")
    return "\n".join(lines) + "\n"


def sitemaps_from_documents(docs: DataFrame) -> DataFrame:
    """documents → one (host, sitemap_xml) row per source host — the
    fetched-sitemap corpus the parser consumes (in production these
    rows come from crawling the robots-declared sitemap URLs)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    grouped = docs.groupBy("source").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    schema = StructType(
        [
            StructField("host", StringType()),
            StructField("sitemap_xml", StringType()),
        ]
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            hosts, xmls = [], []
            for source, ids in zip(batch["source"], batch["ids"]):
                host = f"www.{source}.example.com"
                hosts.append(host)
                xmls.append(sitemap_xml_for_host(host, [int(i) for i in ids]))
            yield pd.DataFrame({"host": hosts, "sitemap_xml": xmls})

    return grouped.mapInPandas(build, schema)


def load_pages(
    spark: SparkSession,
    sf_dir: str,
    skew_fraction: float = 0.0,
    oversize_every: int = 0,
) -> DataFrame:
    return pages_from_documents(
        load_documents(spark, sf_dir), skew_fraction, oversize_every
    )


def expand_pages(pages: DataFrame, mult: int, dup_factor: int = 1) -> DataFrame:
    """Multiply a pages table `mult`× with distinct urls per copy.  Used by
    bench.py / scripts/scaling_bench.py to build a steady-state corpus
    where per-core compute dominates fixed job-setup overhead — the regime
    a 1000-executor run lives in.

    `dup_factor=1` (default) makes the html bytes distinct per copy too (a
    trailing comment), so dedup-aware paths cannot shortcut.  `dup_factor=k`
    instead gives each group of k consecutive copies IDENTICAL html under
    distinct urls — the web-crawl duplication regime render_pages_deduped
    exists for (mirrors, http/https twins)."""
    if mult <= 1:
        return pages
    stamp = ((F.col("copy") - 1) / F.lit(max(dup_factor, 1))).cast("long")
    return pages.withColumn(
        "copy", F.explode(F.sequence(F.lit(1), F.lit(mult)))
    ).select(
        F.concat("url", F.lit("?copy="), F.col("copy").cast("string")).alias("url"),
        "warc_ts",
        F.concat(
            "html",
            F.encode(
                F.concat(F.lit("<!--"), stamp.cast("string"), F.lit("-->")),
                "UTF-8",
            ),
        ).alias("html"),
        "text",
        "lang",
    )


def synthesize_page_py(doc_id: int, text: str, source: str) -> tuple[str, bytes]:
    """Single-process replica of `pages_from_documents` (no skew/oversize):
    returns (url, html_bytes) byte-identical to the Spark expressions above.
    Used by scripts/build_render_goldens.py to precompute expected render
    output *outside* Spark, and pinned equal to the Spark path by
    tests/test_spark_layer.py::test_python_page_synthesis_matches_spark.
    """
    esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    words = esc.split(" ")
    n = len(words)

    chunk = " ".join(words[0:8])
    chunk2 = " ".join(words[8 : 8 + max(n - 8, 1)])

    arche = doc_id % 4
    if arche == 0:
        body = f"<p>{esc}</p>"
    elif arche == 1:
        body = f"<h2>Contents</h2><ul><li>{chunk}</li><li>{chunk2}</li></ul>"
    elif arche == 2:
        c00 = " ".join(words[0:4])
        c01 = " ".join(words[4:8])
        c10 = " ".join(words[8:12])
        c11 = " ".join(words[12:16])
        body = (
            f"<h1>Data</h1><table><tr><td>{c00}</td><td>{c01}</td></tr>"
            f"<tr><td>{c10}</td><td>{c11}</td></tr></table><p>{esc}</p>"
        )
    else:
        body = (
            f"<h1>Report</h1><blockquote>{chunk}</blockquote>"
            f'<p>See <a href="https://example.com/{doc_id}">the source</a>'
            f" for details.</p><pre>{chunk2}</pre><p>{esc}</p>"
        )
    url = f"https://www.{source}.example.com/doc/{doc_id}"
    html = f"<html><body>{body}</body></html>".encode("utf-8")
    return url, html
