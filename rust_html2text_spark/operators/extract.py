"""The main-content extraction operator, Spark-first.

Same plan shape as operators/render.py (scan → mapInPandas, built by
operators/kernel.map_kernel), same robustness contract (a hostile page
becomes an error row, never a task failure) — the kernel is
engine/extract.extract_main_ex
(boilerplate strip + DOM-heuristic candidate scoring) instead of the
whole-document render.  The winner tag and score ride along as lineage
for crawl-QA dashboards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from rust_html2text_spark.operators.kernel import map_kernel

EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("error", StringType()),
        StructField("html_bytes", LongType()),
        StructField("text_bytes", LongType()),
        StructField("winner_tag", StringType()),
        StructField("score", DoubleType()),
        StructField("n_candidates", LongType()),
    ]
)

# charset_sniff=True appends encoding lineage (the sniffed codec and how
# it was determined: bom / meta / default)
EXTRACT_SNIFF_SCHEMA = StructType(
    EXTRACT_SCHEMA.fields
    + [
        StructField("encoding", StringType()),
        StructField("encoding_source", StringType()),
    ]
)


LINKS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("ordinal", LongType()),
        StructField("href", StringType()),
        StructField("anchor", StringType()),
        StructField("nofollow", LongType()),
        # RFC-3986 resolution of href against the page's effective base
        # (<base href> honoured); NULL when unresolvable — a frontier
        # consumer filters on this, never on the raw href
        StructField("target_abs", StringType()),
    ]
)

META_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("lang_attr", StringType()),
        StructField("canonical", StringType()),
        StructField("og_title", StringType()),
        StructField("robots", StringType()),
        StructField("error", StringType()),
    ]
)


def extract_links(
    df: DataFrame,
    config_kwargs: dict | None = None,
    charset_sniff: bool = False,
    outlier_bytes: None = None,
) -> DataFrame:
    """Crawl-graph edges of the MAIN content: (url, ordinal, href, anchor)
    — chrome/nav/footer links are dropped by the same strip+score pass as
    extract_pages, so the edge list is content-to-content (what a link-
    graph quality signal like a PageRank-ish prior wants; boilerplate
    edges are exactly the noise).  Variable rows per input page.

    `outlier_bytes` exists only for a fixed caller that passes
    `outlier_bytes=None`; any other value raises.  A caller whose layout
    clusters giant pages spreads them with
    `df.repartition(n, F.xxhash64("url"))` (see render_pages)."""
    if outlier_bytes is not None:
        raise ValueError(
            "extract_links has no outlier lane; spread giant pages with "
            'df.repartition(n, F.xxhash64("url")) before the call'
        )

    def setup():
        from rust_html2text_spark.engine.api import Config, plain_config
        from rust_html2text_spark.engine.charset import decode_html
        from rust_html2text_spark.engine.extract import extract_main_links

        config = Config(**config_kwargs) if config_kwargs else plain_config()

        def links_row(html, row):
            if charset_sniff:
                html = decode_html(html)[0]
            for o, href, anchor, nofollow, target_abs in extract_main_links(
                html, config, base_url=row["url"]
            ):
                yield dict(
                    row, ordinal=o, href=href, anchor=anchor, nofollow=nofollow,
                    target_abs=target_abs,
                )

        return links_row

    return map_kernel(
        df.select("url", "html"),
        setup,
        LINKS_SCHEMA,
    )


def page_metadata_pages(
    df: DataFrame,
    charset_sniff: bool = False,
) -> DataFrame:
    """Head-metadata extraction: (url, title, description, lang_attr,
    canonical, og_title, error).  The canonical url is the dedup key a
    crawl pipeline trusts over the fetched url; lang_attr is the page's
    language *claim* to audit lang_id's measurement against."""

    def setup():
        from rust_html2text_spark.engine.charset import decode_html
        from rust_html2text_spark.engine.metadata import page_metadata

        def meta_row(html, row):
            if charset_sniff:
                html = decode_html(html)[0]
            row.update(page_metadata(html))
            yield row

        return meta_row

    return map_kernel(
        df.select("url", "html"),
        setup,
        META_SCHEMA,
    )


FULL_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("error", StringType()),
        StructField("html_bytes", LongType()),
        StructField("text_bytes", LongType()),
        StructField("winner_tag", StringType()),
        StructField("score", DoubleType()),
        StructField("n_candidates", LongType()),
        StructField("links_json", StringType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("lang_attr", StringType()),
        StructField("canonical", StringType()),
        StructField("og_title", StringType()),
        StructField("robots", StringType()),
    ]
)

FULL_SNIFF_SCHEMA = StructType(
    FULL_SCHEMA.fields
    + [
        StructField("encoding", StringType()),
        StructField("encoding_source", StringType()),
    ]
)


def extract_pages_full(
    df: DataFrame,
    width: int = 80,
    config_kwargs: dict | None = None,
    charset_sniff: bool = False,
) -> DataFrame:
    """One-parse fusion of extract_pages + extract_links + page_metadata:
    (url, text, error, sizes, scoring lineage, links_json, head
    metadata).  A curation pipeline that consumes all three must not
    parse every page three times — at crawl scale the parse is ~25% of
    the kernel, so the fusion saves ~½ of a full extra pass.  Plan shape
    matches the tier: pruned scan → one mapInPandas.
    charset_sniff=True adds the WHATWG
    sniff + (encoding, encoding_source) lineage, same contract as
    extract_pages."""

    def setup():
        import json

        from rust_html2text_spark.engine.api import Config, plain_config
        from rust_html2text_spark.engine.charset import decode_html
        from rust_html2text_spark.engine.errors import RenderError
        from rust_html2text_spark.engine.extract import (
            extract_main_full,
            extract_main_links,
        )
        from rust_html2text_spark.engine.metadata import page_metadata

        config = Config(**config_kwargs) if config_kwargs else plain_config()

        def links_json(links):
            return json.dumps(links, separators=(",", ":"))

        def full_row(html, row):
            url = row["url"]
            if charset_sniff:
                html, row["encoding"], row["encoding_source"] = decode_html(html)
            try:
                r = extract_main_full(html, width, config, base_url=url)
            except RenderError:
                # links + metadata do not depend on rendering: recover
                # them so an unrenderable page still feeds the link
                # graph and metadata tables (matches the goldens, which
                # compute the three independently)
                try:
                    links = extract_main_links(html, config, base_url=url)
                    meta = page_metadata(html, xml_mode=config.xml)
                    row.update(meta, links_json=links_json(links))
                except Exception:
                    pass  # the error row keeps NULL links and metadata
                raise
            row.update(
                r["meta"],
                text=r["text"],
                winner_tag=r["winner_tag"],
                score=float(r["score"]),
                n_candidates=r["n_candidates"],
                links_json=links_json(r["links"]),
            )
            yield row

        return full_row

    return map_kernel(
        df.select("url", "html"),
        setup,
        FULL_SNIFF_SCHEMA if charset_sniff else FULL_SCHEMA,
    )


def extract_pages(
    df: DataFrame,
    width: int = 80,
    config_kwargs: dict | None = None,
    charset_sniff: bool = False,
    charset_col: str | None = None,
) -> DataFrame:
    """Extract main content from a pages DataFrame (url, html, ...) →
    (url, text, error, sizes, winner_tag, score, n_candidates).  Same
    partitioning contract as operators/render.render_pages: no pre-kernel
    shuffle and one payload scan.  The caller-side repartition that
    spreads giant pages, and its measured gain, are in render_pages'
    docstring.

    charset_sniff=True runs the WHATWG encoding sniff (BOM → transport
    label → meta prescan → utf-8) in front of the parse and
    appends (encoding, encoding_source) lineage — the extraction tier
    targets real crawls where non-UTF-8 pages are a double-digit
    percentage.  `charset_col` names a per-row transport-layer label
    column (read_warc_pages(include_charset_col=True) emits
    `http_charset` from the record's Content-Type header).  Off by
    default: the render path's utf-8/replace is byte-identical
    reference parity and stays that way."""
    cols = ["url", "html"]
    if charset_col is not None:
        if charset_col not in df.columns:
            raise ValueError(
                f"charset_col {charset_col!r} not in input columns {df.columns}"
            )
        cols.append(charset_col)

    def setup():
        from rust_html2text_spark.engine.api import Config, plain_config
        from rust_html2text_spark.engine.charset import decode_html
        from rust_html2text_spark.engine.extract import extract_main_ex

        config = Config(**config_kwargs) if config_kwargs else plain_config()

        def extract_row(html, row, label=None):
            if charset_sniff:
                if label is not None and not isinstance(label, str):
                    label = None  # NaN from pandas for NULL cells
                html, row["encoding"], row["encoding_source"] = decode_html(
                    html, transport_label=label
                )
            r = extract_main_ex(html, width, config)
            row.update(
                text=r["text"],
                winner_tag=r["winner_tag"],
                score=float(r["score"]),
                n_candidates=r["n_candidates"],
            )
            yield row

        return extract_row

    return map_kernel(
        df.select(*cols),
        setup,
        EXTRACT_SNIFF_SCHEMA if charset_sniff else EXTRACT_SCHEMA,
    )
