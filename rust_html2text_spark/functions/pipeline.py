"""End-to-end training-data pipeline: extract → score → filter → dedup.

The composed production flow over a Common-Crawl-style pages table:
1. render HTML→text (the engine, Arrow-batched)
2. quality scoring + language ID on the *extracted* text (built-ins)
3. quality/lang filters
4. exact dedup on the normalized extracted text (first url per group wins)

Everything after the render stage is whole-stage-codegen; the dedup is a
single hash aggregation on the text fingerprint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rust_html2text_spark.operators.render import render_pages


def training_pipeline(
    pages: DataFrame,
    width: int = 80,
    min_quality: float = 0.2,
    langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """pages(url, html, ...) → deduped, quality- and language-filtered
    corpus rows.  `langs` keeps documents whose *extracted-text* language
    prediction (stopword vote, same rule as textstats.lang_id) is in the
    tuple; pass None to skip language filtering."""
    from rust_html2text_spark.functions.textstats import (
        normalized_text_col,
        pred_lang_col,
        quality_col,
        tokens_col,
    )

    rendered = render_pages(pages, width=width).filter(F.col("error").isNull())

    scored = rendered.select(
        "url",
        "text",
        "text_bytes",
        F.size(tokens_col()).alias("n_tokens"),
        F.round(quality_col(), 6).alias("quality"),
        pred_lang_col().alias("pred_lang"),
    ).filter(F.col("quality") >= min_quality)
    if langs is not None:
        scored = scored.filter(F.col("pred_lang").isin(list(langs)))
    scored = scored.drop("pred_lang")

    fingerprinted = scored.withColumn("fingerprint", F.md5(normalized_text_col()))
    # keep the lexicographically-first url per identical document
    from pyspark.sql.window import Window

    w = Window.partitionBy("fingerprint").orderBy("url")
    return (
        fingerprinted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("url", "text", "n_tokens", "quality", "fingerprint")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 256,
    num_shards: int = 8,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy sequential sequence packing: assign documents to fixed
    token-budget training sequences.

    Docs are sharded by a deterministic md5-derived key and ordered within
    the shard by the same hash (reproducible across runs/engines/
    partitionings, like stratified_sample); each doc joins the sequence
    its running token total starts in, so a sequence may overflow by at
    most one document (the standard greedy packing used to build training
    batches).  One window per shard — shards are the parallelism unit, so
    at crawl scale raise num_shards to ~cores×4; a single global ordering
    would serialize the cumsum.

    Returns (doc_id, shard, seq_no, n_tokens).
    """
    from pyspark.sql.window import Window

    hkey = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(key_col),
        (hkey % num_shards).alias("shard"),
        hkey.alias("_order"),
        F.size(toks).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("_order", key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        key_col,
        "shard",
        F.floor((cum - F.col("n_tokens")) / budget).cast("long").alias("seq_no"),
        "n_tokens",
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 512,
    stride: int = 512,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-token chunks for context-window
    construction; stride < chunk_tokens gives overlapping chunks (the
    standard sliding-window pretraining shape).  The final (possibly
    short) chunk starts at the last stride boundary that still contains
    unseen tokens.  Tokens are the text trimmed of spaces and split on
    Java-regex whitespace runs (`\\s+`); NULL text has no chunk.

    One narrow plan, no shuffle, no Python: the token array is
    split once per doc, and every chunk is sliced from it inside one
    `transform` over the chunk ids, then `inline`d into rows.  No chunk
    row carries the whole token array, so a doc's intermediate size
    equals its output.  Bound: one document's whole chunk output, about
    n·chunk_tokens/stride tokens for an n-token doc, is built as one
    Spark array, so it must fit in one array (and one task's memory).

    Returns (key, chunk_id, chunk_text, n_tokens).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(key_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks")
    )
    n = F.size("_toks")
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.floor((n - chunk_tokens + stride - 1) / stride) + 1
    )

    def chunk(i):
        start = (i * stride).cast("int")
        return F.struct(
            i.alias("chunk_id"),
            F.array_join(F.slice("_toks", start + 1, chunk_tokens), " ").alias(
                "chunk_text"
            ),
            F.least(F.lit(chunk_tokens), n - start).cast("long").alias("n_tokens"),
        )

    chunks = F.transform(F.sequence(F.lit(0).cast("long"), n_chunks - 1), chunk)
    return base.select(key_col, F.inline(chunks))
