"""Structured Streaming variant of the extraction pipeline.

The reference is a pure batch scalar function (SURVEY.md §2.5 — no
streaming operators), but a crawl-ingest deployment renders pages as WARC
batches land.  `readStream` file source → the same Arrow-batched render
stage → parquet sink with checkpointing gives exactly-once output and
automatic resume.  Every stream runs the batch operators themselves
(render_pages, extract_pages, extract_pdf_pages, extract_mixed_pages), so
semantics cannot drift.
"""

from __future__ import annotations

import io

from pyspark.sql import DataFrame, SparkSession

from rust_html2text_spark.operators.extract import extract_pages
from rust_html2text_spark.operators.kernel import map_kernel
from rust_html2text_spark.operators.pdf import extract_mixed_pages, extract_pdf_pages
from rust_html2text_spark.operators.render import (
    RENDER_SCHEMA,
    render_pages,
    render_setup,
)
from rust_html2text_spark.sources.warc import (
    PAGES_SCHEMA,
    _fileobj_chunks,
    _page_batches,
)


def stream_pages(
    spark: SparkSession,
    input_path: str,
    schema=None,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-source stream of pages parquet dropped into `input_path`."""
    reader = (
        spark.readStream.format("parquet")
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        static = spark.read.parquet(input_path)
        reader = reader.schema(static.schema)
    return reader.load(input_path)


def crawl_rate_metrics(
    rendered_stream: DataFrame,
    ts_col: str = "warc_ts",
    window_minutes: int = 5,
    watermark_minutes: int = 10,
) -> DataFrame:
    """Event-time windowed ingest metrics with late-data handling: docs and
    bytes per `window_minutes` tumbling window, tolerating events up to
    `watermark_minutes` late (watermark bounds the state store)."""
    from pyspark.sql import functions as F

    return (
        rendered_stream.withWatermark(ts_col, f"{watermark_minutes} minutes")
        .groupBy(F.window(F.col(ts_col), f"{window_minutes} minutes"))
        .agg(
            F.count("*").alias("docs"),
            F.sum("text_bytes").alias("text_bytes"),
            F.sum(
                F.when(F.col("error").isNull(), 0).otherwise(1)
            ).alias("errors"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "docs",
            "text_bytes",
            "errors",
        )
    )


def render_stream_with_ts(pages: DataFrame, width: int = 80) -> DataFrame:
    """Streaming render that keeps the event timestamp for windowed metrics."""
    from pyspark.sql.types import StructField, StructType, TimestampType

    # NOT RENDER_SCHEMA.add(...): StructType.add mutates in place, which
    # would poison the shared batch schema for the rest of the session
    schema = StructType(
        list(RENDER_SCHEMA.fields) + [StructField("warc_ts", TimestampType())]
    )
    # warc_ts rides through the kernel row-aligned: a url re-crawled
    # within one Arrow batch keeps each crawl's own timestamp
    return map_kernel(
        pages.select("url", "html", "warc_ts"),
        render_setup(width, {}),
        schema,
        passthrough=("warc_ts",),
    )


def start_extraction_stream(
    pages: DataFrame,
    output_path: str,
    checkpoint_path: str,
    mode: str = "render",
    width: int = 80,
    config_kwargs: dict | None = None,
    charset_sniff: bool = False,
):
    """Start the streaming query (exactly-once parquet sink + checkpoint)
    over the batch operator of `mode` = render | extract | pdf | mixed
    (CLI --stream --mode ...).  `pages` is a streaming pages frame:
    stream_pages (parquet) or stream_warc_pages (WARC archives)."""
    if mode == "extract":
        out = extract_pages(pages, width, config_kwargs, charset_sniff=charset_sniff)
    elif mode == "pdf":
        out = extract_pdf_pages(pages)
    elif mode == "mixed":
        out = extract_mixed_pages(
            pages, width, config_kwargs, charset_sniff=charset_sniff
        )
    elif mode == "render":
        out = render_pages(pages, width, config_kwargs)
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .start()
    )


def curate_stream(
    pages: DataFrame,
    width: int = 80,
    min_quality: float = 0.2,
    langs: tuple[str, ...] | None = ("en",),
) -> DataFrame:
    """Streaming counterpart of functions.pipeline.training_pipeline up to
    the dedup stage: render → quality score → language gate, all on the
    micro-batch stream (the scoring expressions are whole-stage codegen and
    stream-safe).  Chain `streaming.stateful.first_seen` on the emitted
    `fingerprint` for cross-batch dedup."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.functions.textstats import (
        normalized_text_col,
        pred_lang_col,
        quality_col,
        tokens_col,
    )

    rendered = render_pages(pages, width).filter(F.col("error").isNull())
    scored = rendered.select(
        "url",
        "text",
        F.size(tokens_col()).alias("n_tokens"),
        F.round(quality_col(), 6).alias("quality"),
        pred_lang_col().alias("pred_lang"),
        F.md5(normalized_text_col()).alias("fingerprint"),
    ).filter(F.col("quality") >= min_quality)
    if langs is not None:
        scored = scored.filter(F.col("pred_lang").isin(list(langs)))
    return scored.drop("pred_lang")


def _archive_pages(batches):
    """binaryFile rows → pages frames: every archive's bytes go through
    the WARC readers' one record batcher (sources/warc._page_batches)."""
    archives = (content for pdf in batches for content in pdf["content"])
    return _page_batches(_fileobj_chunks(io.BytesIO(a)) for a in archives)


def stream_warc_pages(
    spark: SparkSession,
    input_path: str,
    glob: str = "*.warc.gz",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Streaming WARC ingest: crawl archives dropped into `input_path`
    become pages rows as they land.  binaryFile file-source (whole-archive
    rows, so size maxFilesPerTrigger × archive size to executor memory) →
    the batch WARC source's record batcher: the same parser, the same
    256-record / 32 MiB frames, and a corrupt archive loses only the
    records after its fault."""
    raw = (
        spark.readStream.format("binaryFile")
        # binaryFile's schema is fixed; streaming sources require it stated
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(input_path)
    )
    return raw.select("content").mapInPandas(_archive_pages, PAGES_SCHEMA)
