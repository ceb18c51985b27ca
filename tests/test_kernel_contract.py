"""Contract of the Arrow-batch kernel boundary, pinned through the public
operators: the error row each operator emits for a NULL payload, a
too-narrow width and a truncated PDF; the encoding lineage and raw byte
counts of a charset-sniffed row; the physical plan shape (MapInPandas,
Exchange and Union node counts) of every operator; the worker bootstrap
(no per-task zip directory re-read, py-files added later still import);
and the exact keyword surface of the operator layer."""

from __future__ import annotations

import json
import re
from collections import Counter

import pytest

pytest.importorskip("pyspark")

# windows-1252 bytes: the sniffed decode grows the payload, so a byte
# count taken after the sniff would differ from the raw size
CP1252 = (
    b'<html><head><meta charset="windows-1252"><title>T</title></head>'
    b"<body><article><p>caf\xe9 \x93quoted\x94 na\xefve r\xe9sum\xe9 text "
    b'<a href="/next">more</a></p></article></body></html>'
)
PAGE = (
    b'<html lang="en"><head><title>Title</title>'
    b'<meta name="description" content="D"></head><body><article>'
    b"<h1>Heading</h1><p>First paragraph with enough words to be content. "
    b'<a href="/a">one</a> and <a href="https://x.example/b">two</a>.</p>'
    b"</article></body></html>"
)
TRUNCATED_PDF = b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R"


@pytest.fixture(scope="module")
def spark():
    from rust_html2text_spark.plans.session import get_spark

    spark = get_spark(app_name="tests", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(
        [("https://h.example/null", None), ("https://h.example/p", PAGE)],
        "url string, html binary",
    )


@pytest.fixture(scope="module")
def pdf_bytes():
    from rust_html2text_spark.sources.pdfcorpus import build_pdf

    return build_pdf(1, "a pdf page of text", "https://h.example/doc.pdf")


def _by_url(df):
    return {r["url"]: r.asDict() for r in df.collect()}


def test_null_payload_rows(spark, pages):
    from rust_html2text_spark.operators.extract import (
        extract_links,
        extract_pages,
        extract_pages_full,
        page_metadata_pages,
    )
    from rust_html2text_spark.operators.pdf import (
        extract_mixed_pages,
        extract_pdf_links,
        extract_pdf_pages,
    )
    from rust_html2text_spark.operators.render import (
        render_pages,
        render_pages_deduped,
    )

    u = "https://h.example/null"
    r = _by_url(render_pages(pages))[u]
    assert r == dict(url=u, text=None, error="NullInput", html_bytes=0, text_bytes=0)
    distinct = pages.unionByName(
        spark.createDataFrame(
            [(f"https://h.example/{i}", PAGE + b"<p>%d</p>" % i) for i in range(3)],
            "url string, html binary",
        )
    )
    # near-distinct (4 rows, 3 distinct payloads) and duplicated (every
    # row twice): the same grouped plan
    for src, copies in ((distinct, 1), (pages.unionByName(pages), 2)):
        d = render_pages_deduped(src)
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan, plan
        null_rows = [x for x in d.collect() if x["content_hash"] is None]
        assert [x["url"] for x in null_rows] == [u] * copies
        for null_row in null_rows:
            assert null_row["error"] == "NullInput" and null_row["text"] is None
            assert null_row["html_bytes"] == 0 and null_row["text_bytes"] == 0

    base = dict(url=u, text=None, error="NullInput", html_bytes=0, text_bytes=0,
                winner_tag=None, score=None, n_candidates=0)
    assert _by_url(extract_pages(pages))[u] == base
    assert _by_url(extract_pages(pages, charset_sniff=True))[u] == dict(
        base, encoding=None, encoding_source=None
    )
    meta = dict(links_json=None, title=None, description=None, lang_attr=None,
                canonical=None, og_title=None, robots=None)
    assert _by_url(extract_pages_full(pages))[u] == dict(base, **meta)
    assert _by_url(extract_pages_full(pages, charset_sniff=True))[u] == dict(
        base, **meta, encoding=None, encoding_source=None
    )
    assert _by_url(page_metadata_pages(pages))[u] == dict(
        url=u, title=None, description=None, lang_attr=None, canonical=None,
        og_title=None, robots=None, error="NullInput",
    )
    assert _by_url(extract_mixed_pages(pages))[u] == dict(
        url=u, kind="html", text=None, error="NullInput", input_bytes=0, text_bytes=0
    )
    pdfs = pages.withColumnRenamed("html", "pdf")
    assert _by_url(extract_pdf_pages(pdfs))[u] == dict(
        url=u, text=None, error="NullInput", pdf_bytes=0, text_bytes=0, n_pages=0,
        pdf_version=None, title=None, author=None,
    )
    # the link kernels emit no row at all for a NULL payload
    links = extract_links(pages).collect()
    assert links and all(x["url"] != u for x in links)
    assert extract_pdf_links(pdfs).filter(f"url = '{u}'").count() == 0


def test_too_narrow_rows(spark, pages):
    from rust_html2text_spark.operators.extract import extract_pages, extract_pages_full
    from rust_html2text_spark.operators.pdf import extract_mixed_pages
    from rust_html2text_spark.operators.render import render_pages

    u, n = "https://h.example/p", len(PAGE)
    assert _by_url(render_pages(pages, width=0))[u] == dict(
        url=u, text=None, error="TooNarrow", html_bytes=n, text_bytes=0
    )
    assert _by_url(extract_pages(pages, width=0))[u] == dict(
        url=u, text=None, error="TooNarrow", html_bytes=n, text_bytes=0,
        winner_tag=None, score=None, n_candidates=0,
    )
    assert _by_url(extract_mixed_pages(pages, width=0))[u] == dict(
        url=u, kind="html", text=None, error="TooNarrow", input_bytes=n, text_bytes=0
    )
    full = _by_url(extract_pages_full(pages, width=0))[u]
    assert full["error"] == "TooNarrow" and full["text"] is None
    assert full["html_bytes"] == n and full["text_bytes"] == 0
    assert full["winner_tag"] is None and full["n_candidates"] == 0
    # links and head metadata do not depend on rendering: still filled
    links = json.loads(full["links_json"])
    assert [x[4] for x in links] == ["https://h.example/a", "https://x.example/b"]
    assert full["title"] == "Title" and full["description"] == "D"
    assert full["lang_attr"] == "en"


def test_truncated_pdf_rows(spark, pdf_bytes):
    from rust_html2text_spark.operators.pdf import extract_mixed_pages, extract_pdf_pages

    df = spark.createDataFrame(
        [("https://h.example/bad.pdf", TRUNCATED_PDF), ("https://h.example/ok.pdf", pdf_bytes)],
        "url string, pdf binary",
    )
    got = _by_url(extract_pdf_pages(df))
    bad = got["https://h.example/bad.pdf"]
    assert bad["error"].startswith("PdfError:") and len(bad["error"]) <= 200
    assert bad["text"] is None and bad["n_pages"] == 0
    assert bad["pdf_bytes"] == len(TRUNCATED_PDF) and bad["text_bytes"] == 0
    ok = got["https://h.example/ok.pdf"]
    assert ok["error"] is None and ok["pdf_bytes"] == len(pdf_bytes)
    assert ok["text_bytes"] == len(ok["text"].encode("utf-8")) > 0

    mixed = _by_url(extract_mixed_pages(df.withColumnRenamed("pdf", "html")))
    mbad = mixed["https://h.example/bad.pdf"]
    assert mbad["kind"] == "pdf" and mbad["error"] == bad["error"]
    assert mbad["input_bytes"] == len(TRUNCATED_PDF) and mbad["text"] is None
    mok = mixed["https://h.example/ok.pdf"]
    assert mok["kind"] == "pdf" and mok["text"] == ok["text"]


def test_sniffed_rows_keep_lineage_and_raw_sizes(spark):
    from rust_html2text_spark.operators.extract import extract_pages, extract_pages_full
    from rust_html2text_spark.operators.pdf import extract_mixed_pages

    u = "https://h.example/cp"
    df = spark.createDataFrame([(u, CP1252)], "url string, html binary")
    for width, error in ((80, None), (0, "TooNarrow")):
        for op in (extract_pages, extract_pages_full):
            r = _by_url(op(df, width=width, charset_sniff=True))[u]
            assert r["error"] == error
            assert (r["encoding"], r["encoding_source"]) == ("cp1252", "meta")
            assert r["html_bytes"] == len(CP1252)
        m = _by_url(extract_mixed_pages(df, width=width, charset_sniff=True))[u]
        assert m["error"] == error and m["input_bytes"] == len(CP1252)
    ok = _by_url(extract_pages(df, charset_sniff=True))[u]
    assert "café" in ok["text"]
    assert ok["text_bytes"] == len(ok["text"].encode("utf-8"))


# -- physical plan shape ---------------------------------------------------


def _plan_nodes(df) -> Counter:
    plan = df._jdf.queryExecution().executedPlan().toString()
    names = Counter()
    for line in plan.splitlines():
        m = re.match(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?(\w+)", line)
        if m:
            names[m.group(1)] += 1
    return Counter({k: names[k] for k in ("MapInPandas", "Exchange", "Union")})


def _shape(mip, exch, union):
    return Counter({"MapInPandas": mip, "Exchange": exch, "Union": union})


def _operators(spark):
    from rust_html2text_spark.operators import extract, pdf, render

    html = spark.createDataFrame(
        [(f"https://h.example/{i}", PAGE + str(i).encode()) for i in range(8)],
        "url string, html binary",
    )
    dup = spark.createDataFrame(
        [(f"https://h.example/{i}", PAGE) for i in range(8)],
        "url string, html binary",
    )
    pdfs = html.withColumnRenamed("html", "pdf")
    return {
        # name: (build, input, shape at defaults)
        "render_pages": (render.render_pages, html, _shape(1, 0, 0)),
        "extract_pages": (extract.extract_pages, html, _shape(1, 0, 0)),
        "extract_links": (extract.extract_links, html, _shape(1, 0, 0)),
        "page_metadata_pages": (extract.page_metadata_pages, html, _shape(1, 0, 0)),
        "extract_pages_full": (extract.extract_pages_full, html, _shape(1, 0, 0)),
        "extract_pdf_pages": (pdf.extract_pdf_pages, pdfs, _shape(1, 0, 0)),
        "extract_pdf_links": (pdf.extract_pdf_links, pdfs, _shape(1, 0, 0)),
        "extract_mixed_pages": (pdf.extract_mixed_pages, html, _shape(1, 0, 0)),
        "render_pages_deduped/distinct": (
            render.render_pages_deduped, html, _shape(1, 1, 0)
        ),
        "render_pages_deduped/grouped": (
            render.render_pages_deduped, dup, _shape(1, 1, 0)
        ),
    }


@pytest.mark.parametrize(
    "name",
    [
        "render_pages",
        "extract_pages",
        "extract_links",
        "page_metadata_pages",
        "extract_pages_full",
        "extract_pdf_pages",
        "extract_pdf_links",
        "extract_mixed_pages",
        "render_pages_deduped/distinct",
        "render_pages_deduped/grouped",
    ],
)
def test_plan_shape(spark, name):
    build, df, default = _operators(spark)[name]
    assert _plan_nodes(build(df)) == default
    if name == "extract_links":
        # the keyword a fixed caller passes as None plans the same tail;
        # any other value has no lane to select
        assert _plan_nodes(build(df, outlier_bytes=None)) == default
        with pytest.raises(ValueError, match="xxhash64"):
            build(df, outlier_bytes=1)


def test_render_metrics_sums_to_render_totals(spark):
    """render_metrics' per-partition rows, errors and byte counts add up
    to the totals of the render_pages output it summarizes."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.operators.render import render_metrics, render_pages

    df = spark.createDataFrame(
        [(f"https://h.example/{i}", PAGE + b"x" * i) for i in range(6)]
        + [("https://h.example/null", None)],
        "url string, html binary",
    )
    # spread over two partitions, so there is more than one metrics row
    rendered = render_pages(df.repartition(2, F.xxhash64("url")))
    rows = rendered.collect()
    metrics = render_metrics(rendered).collect()
    assert len(metrics) > 1
    assert sum(m["rows"] for m in metrics) == len(rows) == 7
    assert sum(m["errors"] for m in metrics) == 1
    assert [r["error"] for r in rows if r["error"]] == ["NullInput"]
    for col in ("html_bytes", "text_bytes"):
        assert sum(m[col] for m in metrics) == sum(r[col] for r in rows) > 0


# -- worker bootstrap ------------------------------------------------------


def test_worker_skips_zip_directory_rereads(spark, pages):
    """PySpark invalidates the import caches before every task; inside a
    map_kernel task that call re-reads no zip archive's directory."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from rust_html2text_spark.operators.kernel import map_kernel

    def setup():
        import importlib
        import sys
        import zipimport

        def row_fn(data, row):
            reads = []
            read_directory = zipimport._read_directory

            def counting(path):
                reads.append(path)
                return read_directory(path)

            zipimport._read_directory = counting
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read_directory
            row["reads"] = len(reads)
            row["importers"] = sum(
                isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values()
            )
            yield row

        return row_fn

    schema = StructType(
        [
            StructField("url", StringType()),
            StructField("reads", LongType()),
            StructField("importers", LongType()),
            StructField("error", StringType()),
        ]
    )
    (row,) = map_kernel(pages, setup, schema).filter("error is null").collect()
    assert row["importers"] >= 1
    assert row["reads"] == 0


def test_py_file_added_later_is_importable(spark, pages, tmp_path):
    """A zip shipped with addPyFile after a worker has run a map_kernel
    task is still importable from that worker's next task."""
    import uuid
    import zipfile

    from pyspark.sql.types import StringType, StructField, StructType

    from rust_html2text_spark.operators.kernel import map_kernel

    schema = StructType(
        [
            StructField("url", StringType()),
            StructField("value", StringType()),
            StructField("error", StringType()),
        ]
    )
    module = f"late_pyfile_{uuid.uuid4().hex}"
    token = uuid.uuid4().hex

    def setup():
        def row_fn(data, row):
            import importlib

            row["value"] = importlib.import_module(module).VALUE
            yield row

        return row_fn

    def noop_setup():
        def row_fn(data, row):
            yield row

        return row_fn

    assert len(map_kernel(pages, noop_setup, schema).collect()) == 2
    archive = tmp_path / f"{module}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{module}.py", f"VALUE = {token!r}\n")
    spark.sparkContext.addPyFile(str(archive))
    rows = _by_url(map_kernel(pages, setup, schema))
    assert rows["https://h.example/p"]["error"] is None
    assert rows["https://h.example/p"]["value"] == token


# -- keyword surface -------------------------------------------------------

# Every keyword a caller can set on the operator layer, on
# functions.pipeline.chunk_documents and on the WARC/WET and streaming
# entry points.  Partitioning is the caller's
# (df.repartition before the call), so none appears here; a new option
# needs an edit to this table in the same change.
PARAMETERS = {
    "operators.render.render_pages": ("df", "width", "config_kwargs", "render_kwargs"),
    "operators.render.render_pages_deduped": ("df", "width", "config_kwargs"),
    "operators.extract.extract_pages": (
        "df", "width", "config_kwargs", "charset_sniff", "charset_col",
    ),
    "operators.extract.extract_links": (
        "df", "config_kwargs", "charset_sniff", "outlier_bytes"
    ),
    "operators.extract.page_metadata_pages": ("df", "charset_sniff"),
    "operators.extract.extract_pages_full": (
        "df", "width", "config_kwargs", "charset_sniff"
    ),
    "operators.pdf.extract_pdf_pages": ("df",),
    "operators.pdf.extract_pdf_links": ("df",),
    "operators.pdf.extract_mixed_pages": (
        "df", "width", "config_kwargs", "charset_sniff"
    ),
    "functions.pipeline.chunk_documents": (
        "docs", "chunk_tokens", "stride", "key_col", "text_col"
    ),
    "operators.kernel.map_kernel": (
        "pages", "setup", "schema", "payload", "passthrough", "defaults",
    ),
    "sources.warc.read_warc_pages": (
        "spark", "paths", "include_charset_col", "include_error_col",
    ),
    "sources.warc.read_warc_ranges": (
        "spark", "plan", "base_dir", "include_charset_col", "include_error_col",
    ),
    "sources.warc.iter_warc_file": ("path",),
    "sources.warc.export_wet": ("rendered", "path"),
    "sources.warc.export_wet_partitioned": ("rendered", "out_dir"),
    "streaming.pipeline.start_extraction_stream": (
        "pages", "output_path", "checkpoint_path", "mode", "width",
        "config_kwargs", "charset_sniff",
    ),
}


@pytest.mark.parametrize("name", sorted(PARAMETERS))
def test_operator_parameters(name):
    import importlib
    import inspect

    module, func = name.rsplit(".", 1)
    fn = getattr(importlib.import_module(f"rust_html2text_spark.{module}"), func)
    assert tuple(inspect.signature(fn).parameters) == PARAMETERS[name]
