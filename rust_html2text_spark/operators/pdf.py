"""PDF text-extraction operator, Spark-first.

Third member of the extraction-tier operator family (render_pages,
extract_pages): same plan shape — pruned scan → Arrow-batched
mapInPandas, built by operators/kernel.map_kernel — and the same robustness
contract (a hostile or truncated PDF becomes an error row, never a task
failure).  The kernel is engine/pdftext.extract_pdf_ex (document
structure + content-stream interpretation + layout assembly); page count
and PDF version ride along as lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from rust_html2text_spark.operators.kernel import map_kernel

PDF_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("error", StringType()),
        StructField("pdf_bytes", LongType()),
        StructField("text_bytes", LongType()),
        StructField("n_pages", LongType()),
        StructField("pdf_version", StringType()),
        StructField("title", StringType()),
        StructField("author", StringType()),
    ]
)


LINKS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page", LongType()),
        StructField("ordinal", LongType()),
        StructField("uri", StringType()),
    ]
)


def extract_pdf_links(df: DataFrame) -> DataFrame:
    """The PDF half of the crawl link graph: (url, page, ordinal, uri)
    from /Annots Link → /A /URI actions — PDFs carry their outbound
    edges as annotations, not text.  Pairs with
    operators/extract.extract_links for HTML pages."""

    def setup():
        from rust_html2text_spark.engine.pdfparse import parse_pdf
        from rust_html2text_spark.engine.pdftext import pdf_links_from_doc

        def pdf_links_row(pdf, row):
            doc = parse_pdf(pdf)
            for page, ordinal, uri in pdf_links_from_doc(doc, doc.pages()):
                yield dict(row, page=page, ordinal=ordinal, uri=uri)

        return pdf_links_row

    return map_kernel(
        df.select("url", "pdf"),
        setup,
        LINKS_SCHEMA,
        payload="pdf",
    )


MIXED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("error", StringType()),
        StructField("input_bytes", LongType()),
        StructField("text_bytes", LongType()),
    ]
)


def extract_mixed_pages(
    df: DataFrame,
    width: int = 80,
    config_kwargs: dict | None = None,
    charset_sniff: bool = False,
) -> DataFrame:
    """Mixed-payload extraction: a crawl's pages table carries ONE binary
    payload column, and real Common Crawl responses are ~98% HTML with a
    PDF tail.  Each row is routed by magic-byte sniff (%PDF- within the
    first 1 KiB — the window engine/pdfparse accepts; content-type
    headers lie in crawls and are never consulted): PDFs through the
    pdftext kernel, everything else through the full HTML render.
    Output: (url, kind, text, error, input_bytes, text_bytes).

    Scale shape: ONE pruned scan → ONE mapInPandas whose Python side
    dispatches per row — both kernels live in the same worker process, so
    routing costs a 1 KiB memchr, not a second scan of the payload column
    (a two-filtered-branches plan reads the 100 TB table twice because the
    sniff predicate cannot push to parquet)."""

    def setup():
        from rust_html2text_spark.engine.api import Config, html_to_text, plain_config
        from rust_html2text_spark.engine.charset import decode_html
        from rust_html2text_spark.engine.pdftext import extract_pdf_ex

        config = Config(**config_kwargs) if config_kwargs else plain_config()

        def mixed_row(payload, row):
            # the same 1 KiB magic window parse_pdf accepts; crawl
            # content-type headers lie, so they are never consulted
            if b"%PDF-" in payload[:1024]:
                row["kind"] = "pdf"
                row["text"] = extract_pdf_ex(payload)["text"]
            else:
                # the sniff applies to the HTML lane only — PDF bytes
                # are binary and the magic check above already ran
                if charset_sniff:
                    payload = decode_html(payload)[0]
                row["text"] = html_to_text(payload, width, config)
            yield row

        return mixed_row

    return map_kernel(
        df.select("url", "html"),
        setup,
        MIXED_SCHEMA,
        defaults={"kind": "html"},
    )


def extract_pdf_pages(df: DataFrame) -> DataFrame:
    """Extract text from a PDF pages DataFrame (url, pdf, ...) →
    (url, text, error, pdf_bytes, text_bytes, n_pages, pdf_version).
    Partitioning contract matches render_pages: no pre-kernel shuffle
    and one payload scan.  The PDF kernel's own decode and interpreter
    budgets bound a giant document's cost."""

    def setup():
        from rust_html2text_spark.engine.pdftext import extract_pdf_ex

        def pdf_row(pdf, row):
            r = extract_pdf_ex(pdf)
            row.update(
                text=r["text"],
                n_pages=r["n_pages"],
                pdf_version=r["pdf_version"],
                title=r["title"],
                author=r["author"],
            )
            yield row

        return pdf_row

    return map_kernel(
        df.select("url", "pdf"),
        setup,
        PDF_SCHEMA,
        payload="pdf",
    )
