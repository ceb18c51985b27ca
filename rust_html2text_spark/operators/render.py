"""The HTML→text extraction operator, Spark-first.

The reference engine is a document-at-a-time scalar transform
(`text = render(html, width, options)`, /root/reference/src/lib.rs:3430),
so the Catalyst-visible plan is deliberately trivial — scan →
mapInPandas → write — and every reference semantic lives inside the
Arrow-batched Python function.

Scale design (10^12 docs / 1000 executors):
- **Partitioning**: NO pre-kernel shuffle (scan-aligned splits — r07,
  guide §2.4: the corpus' html bytes never cross the network before the
  kernel).  Partitioning is the caller's: an input whose file layout
  concentrates expensive pages is spread with
  `df.repartition(n, F.xxhash64("url"))` before the call; `render_pages`
  has the measurements.
- **Robustness**: per-row try/except inside the batch — a parse failure or
  TooNarrow becomes an `error` column value, never a task failure
  (reference Error enum, lib.rs:384-400).
- **Metrics/lineage**: per-partition row/byte counts emitted as a second
  DataFrame for an append-only metrics table.

The plan tail and the error map live in operators/kernel.map_kernel,
shared by every extraction operator; this module supplies the render
kernel's `setup()`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from rust_html2text_spark.operators.kernel import map_kernel

RENDER_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("error", StringType()),
        StructField("html_bytes", LongType()),
        StructField("text_bytes", LongType()),
    ]
)


def render_setup(
    width: int,
    config_kwargs: dict,
    coloured: bool = False,
    use_css_colours: bool = True,
    no_default_colours: bool = False,
    syntax_highlight: bool = False,
):
    """The render kernel's `setup()` for operators/kernel.map_kernel; engine
    imports happen on the executor so only rust_html2text_spark needs to
    ship via --py-files.  The row function takes an optional per-row
    width (the input's `width` column) and falls back to the job width.

    `coloured` renders through the ANSI colour map (reference CLI
    `--colour`, main.rs:161-180); `syntax_highlight` registers the default
    rs/html highlighters (`--syntax`, main.rs:143-148).  Both are plain
    booleans rather than callables so the closure stays trivially
    picklable — the actual functions are imported executor-side."""

    def setup():
        from rust_html2text_spark.engine.api import Config, html_to_text, plain_config

        config = Config(**config_kwargs) if config_kwargs else plain_config()
        if syntax_highlight:
            from rust_html2text_spark.engine.highlight import DEFAULT_HIGHLIGHTERS

            config.syntax_highlighters = dict(DEFAULT_HIGHLIGHTERS)
        if coloured:
            from functools import partial

            from rust_html2text_spark.engine.api import html_to_coloured
            from rust_html2text_spark.engine.colourmap import default_colour_map

            cmap = partial(
                default_colour_map,
                use_css_colours=use_css_colours,
                no_default_colours=no_default_colours,
            )

            def render_row(html, row, w=width):
                row["text"] = html_to_coloured(html, int(w), cmap, config)
                yield row

        else:

            def render_row(html, row, w=width):
                row["text"] = html_to_text(html, int(w), config)
                yield row

        return render_row

    return setup


def render_pages(
    df: DataFrame,
    width: int = 80,
    config_kwargs: dict | None = None,
    render_kwargs: dict | None = None,
) -> DataFrame:
    """Render a pages DataFrame (url, html, ...) to (url, text, error, sizes).

    Only url+html are read — column pruning keeps the scan narrow.

    The kernel runs on the scan-aligned file splits — the input never
    moves through a shuffle before the kernel (measured ~14% faster at
    local scale than a url-hash shuffle, r07; at 100 TB it is the
    difference between shuffling the corpus once and not).  Correct
    whenever the input's file layout is not cost-correlated: a
    sink-written crawl table is already distributed by an upstream
    shuffle.  Raw input whose file layout concentrates expensive pages
    (giant documents, per-host dump files) is the caller's to spread
    first with `df.repartition(n, F.xxhash64("url"))`, at the cost of
    moving every html byte through one exchange.

    On perfbench `render_flat` (5,000 pages, largest 51 KB; 4 cores,
    local[4], `--seconds 12`, 10 alternating pairs on seeds 1821-1830,
    in a window where the host ran about 2× slower than usual) this
    one-scan plan runs at a median 4,740 docs/s with 12.7 s of set-up;
    the engine before its one-step-per-node HTML phases ran 3,887 docs/s
    in the same pairs (parent IQR 3,829-4,255).  On a layout that clusters giant pages, from
    scripts/giant_layout_ab.py: 16 pages of 2-3.9 MiB in one parquet file
    (one row group) among 5,000 normal pages in 8 files, 4 cores,
    local[4], median of 3 rotated reps, both plans ending in the same
    one-row checksum:

    | plan                              | wall s | stage.task_s_max s | stages |
    |-----------------------------------|--------|--------------------|--------|
    | default                           | 30.9   | 30.8               | 2      |
    | `repartition(4, xxhash64("url"))` | 16.7   | 16.0               | 3      |

    By default the one split holding every giant renders them serially;
    the caller-side repartition spreads them over the cores.  It moves
    every html byte through the exchange, so it pays only on a layout
    that clusters expensive pages.  Neither plan bounds a single giant
    row's own cost; that takes a per-row budget in the kernel.
    """
    cols = ["url", "html"]
    if "width" in df.columns:
        cols.append("width")
    return map_kernel(
        df.select(*cols),
        render_setup(width, config_kwargs or {}, **(render_kwargs or {})),
        RENDER_SCHEMA,
    )


def render_pages_deduped(
    df: DataFrame,
    width: int = 80,
    config_kwargs: dict | None = None,
) -> DataFrame:
    """Dedup-aware rendering: render each *distinct* document once, then
    join results back to every url.

    Web crawls are heavily duplicated (boilerplate mirrors, http/https
    twins); rendering distinct payloads cuts the Python-side work by the
    duplication factor at the cost of one shuffle on the content hash.
    The content hash doubles as the lineage key.

    Plan shape (r07, guide §8 — decide with small rows, move big rows
    once): ONE exchange total.  groupBy(content_hash) both dedups the
    payload and collects the url list in the same aggregation; the url
    list rides through the kernel as a passthrough column and explodes
    back to one row per input url in the JVM.  The previous
    dropDuplicates + join-back plan paid a second scan + md5 pass over
    the input for the url↔hash map and re-shuffled the *rendered text*
    to meet it — both gone.  Caveat: a pathological duplicate class (one
    page mirrored 10^6×) materializes its url list in one row; at that
    scale split the class with a secondary group key upstream.

    Building the returned DataFrame runs no Spark job: the plan is the
    same for every input.  A near-distinct corpus still pays the payload
    exchange; a caller that knows its corpus is near-distinct skips it
    with `render_pages(df)` plus `F.md5("html")` as content_hash, which
    gives the same rows (the kernel is deterministic per payload).
    """
    from pyspark.sql.types import ArrayType

    setup = render_setup(width, config_kwargs or {})
    grouped = df.groupBy(F.md5(F.col("html")).alias("content_hash")).agg(
        F.collect_list("url").alias("urls"),
        # all group members are byte-identical (md5 key): any member's
        # html is THE payload, so first() is deterministic in value
        F.first("html").alias("html"),
    )
    schema = StructType(
        RENDER_SCHEMA.fields + [StructField("urls", ArrayType(StringType()))]
    )
    rendered = map_kernel(
        grouped.select(F.col("content_hash").alias("url"), "urls", "html"),
        setup,
        schema,
        passthrough=("urls",),
    )
    return rendered.select(
        F.explode("urls").alias("url"),
        "text",
        "error",
        "html_bytes",
        "text_bytes",
        F.col("url").alias("content_hash"),
    )


def render_metrics(rendered: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows for the metrics table."""
    return (
        rendered.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.when(F.col("error").isNull(), 0).otherwise(1)).alias("errors"),
            F.sum("html_bytes").alias("html_bytes"),
            F.sum("text_bytes").alias("text_bytes"),
        )
    )
