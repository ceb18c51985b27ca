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


def _chunk_batches(batches, key_col: str, text_col: str, ct: int, st: int):
    """The outlier lane of `chunk_documents`: `ct`-token chunks every
    `st` tokens, sliced from each doc's token list in place."""
    import re

    import pandas as pd

    # Java-regex \s ([ \t\n\x0B\f\r]) and Spark trim (space only), so
    # both lanes tokenize identically down to hostile whitespace
    split_re = re.compile("[ \t\n\x0b\f\r]+")
    out_keys, out_ids, out_texts, out_ns = [], [], [], []

    def flush():
        nonlocal out_keys, out_ids, out_texts, out_ns
        pdf = pd.DataFrame(
            {
                key_col: out_keys,
                "chunk_id": out_ids,
                "chunk_text": out_texts,
                "n_tokens": out_ns,
            }
        )
        out_keys, out_ids, out_texts, out_ns = [], [], [], []
        return pdf

    for pdf in batches:
        for key, text in zip(pdf[key_col], pdf[text_col]):
            tokens = split_re.split(text.strip(" "))
            nt = len(tokens)
            if nt <= ct:
                count = 1
            else:
                count = (nt - ct + st - 1) // st + 1
            for cid in range(count):
                s = cid * st
                out_keys.append(key)
                out_ids.append(cid)
                out_texts.append(" ".join(tokens[s : s + ct]))
                out_ns.append(min(ct, nt - s))
                if len(out_keys) >= 2048:
                    yield flush()
    if out_keys:
        yield flush()


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 512,
    stride: int = 512,
    key_col: str = "doc_id",
    text_col: str = "text",
    outlier_tokens: int = 8192,
) -> DataFrame:
    """Split documents into fixed-token chunks for context-window
    construction; stride < chunk_tokens gives overlapping chunks (the
    standard sliding-window pretraining shape).  The final (possibly
    short) chunk starts at the last stride boundary that still contains
    unseen tokens.

    Two lanes, one result:
    - docs ≤ `outlier_tokens` tokens: narrow whole-stage-codegen
      expressions (split + sequence explode + slice) — no shuffle, no
      UDF.  The explode duplicates the full token array into every chunk
      row before the slice, so per-doc intermediate memory is
      ~n²/stride tokens; the threshold bounds that to
      outlier_tokens²/stride (default 8192² / 512 = 128k tokens).
    - docs above it (the <<1% crawl tail: concatenated logs, book dumps)
      stream through a mapInPandas chunker that slices the token list
      in place and emits chunk batches — O(n) per doc, no duplication,
      so a single 10M-token doc cannot OOM its task.
    Both lanes implement identical tokenization (Java \\s semantics) and
    chunk math; the union is the whole corpus.

    Returns (key, chunk_id, chunk_text, n_tokens).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    if outlier_tokens < chunk_tokens:
        raise ValueError("outlier_tokens must be >= chunk_tokens")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.floor((n - chunk_tokens + stride - 1) / stride) + 1
    )
    nonnull = docs.filter(F.col(text_col).isNotNull())

    base = nonnull.filter(n <= outlier_tokens).select(
        F.col(key_col),
        toks.alias("_toks"),
        n.alias("_n"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_id"
        ),
    )
    start = (F.col("chunk_id") * stride).cast("int")
    small = base.select(
        key_col,
        "chunk_id",
        F.array_join(F.slice("_toks", start + 1, chunk_tokens), " ").alias(
            "chunk_text"
        ),
        F.least(F.lit(chunk_tokens), F.col("_n") - start)
        .cast("long")
        .alias("n_tokens"),
    )

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField(key_col, docs.schema[key_col].dataType),
            StructField("chunk_id", LongType()),
            StructField("chunk_text", StringType()),
            StructField("n_tokens", LongType()),
        ]
    )
    ct, st = int(chunk_tokens), int(stride)

    big = (
        nonnull.filter(n > outlier_tokens)
        .select(key_col, text_col)
        .mapInPandas(
            lambda it: _chunk_batches(it, key_col, text_col, ct, st), out_schema
        )
    )
    return small.unionByName(big)
