"""CDXJ URL-index source (Common Crawl's capture index format).

Common Crawl publishes, next to each WARC segment, a CDXJ index: one
line per capture, `<urlkey> <timestamp> <json>` where the JSON carries
(url, mime, status, digest, length, offset, filename).  A crawl-scale
pipeline SELECTS from the index first — by host, mime, status,
dedup-digest — and only then fetches the chosen (filename, offset,
length) ranges, instead of scanning petabytes of WARC for a 1% slice.

This module gives that half of the pipeline:

  surt_key_col     the urlkey (SURT: host labels reversed+comma-joined,
                   `)/` then path?query) as a whole-stage-codegen
                   expression — no UDF, usable as a join/sort key at any
                   scale.  Simplified vs the full Java canonicalizer:
                   a leading `www.` is stripped and the key lowercased,
                   query params are NOT re-sorted (documented choice,
                   mirrored by the oracle).
  parse_cdx_lines  CDXJ text lines → typed columns via one
                   `from_json` (codegen; malformed lines keep NULL
                   fields rather than killing the scan)
  read_cdx         file(s) → the same frame (spark.read.text feeds
                   parse_cdx_lines; .gz handled by Spark's codec)
  select_fetches   the index-side selection: keep 200s of wanted mimes,
                   one capture per digest (latest wins), emit the fetch
                   plan ordered by (filename, offset) so each WARC file
                   is read once, sequentially.
  write_cdxj       deterministic writer (tests / corpus round trips)

Everything except the trivial writer is built-in expressions — the
index never needs Python row work.  Derived from the public CDXJ format
description and SURT convention only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rust_html2text_spark.functions.robots import HOST_RE, PATH_RE

__all__ = [
    "surt_key_col",
    "parse_cdx_lines",
    "read_cdx",
    "select_fetches",
    "write_cdxj",
    "CDX_JSON_SCHEMA",
]

CDX_JSON_SCHEMA = (
    "url string, mime string, status string, digest string, "
    "length string, offset string, filename string, "
    "languages string, charset string"
)


def surt_key_col(url_col):
    """SURT urlkey for a URL column, whole-stage codegen:
    `https://www.Example.com/A/b?q=1#f` → `com,example)/a/b?q=1`.
    Port and userinfo are kept as part of the last host label if
    present (rare in crawl data; the key stays deterministic)."""
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    host = F.lower(F.regexp_extract(url, HOST_RE, 1))
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    pathq = F.lower(F.regexp_extract(url, PATH_RE, 1))
    pathq = F.when(pathq == "", F.lit("/")).otherwise(pathq)
    return F.concat(rev, F.lit(")"), pathq)


def parse_cdx_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """CDXJ text lines → (urlkey, timestamp, url, mime, status, digest,
    length bigint, offset bigint, filename).  The line layout is
    `urlkey SP timestamp SP json`; the json object carries the rest.
    Malformed json yields NULL fields (the line survives as lineage);
    lines without the three-part shape yield NULL urlkey/timestamp."""
    v = F.col(value_col)
    urlkey = F.regexp_extract(v, r"^(\S+) ", 1)
    ts = F.regexp_extract(v, r"^\S+ (\d+) ", 1)
    body = F.regexp_extract(v, r"^\S+ \d+ (\{.*\})\s*$", 1)
    j = F.from_json(body, CDX_JSON_SCHEMA)
    return lines.select(
        F.when(urlkey != "", urlkey).alias("urlkey"),
        F.when(ts != "", ts).alias("timestamp"),
        j["url"].alias("url"),
        j["mime"].alias("mime"),
        j["status"].alias("status"),
        j["digest"].alias("digest"),
        # try_cast: a garbage numeric field in one index line must yield
        # NULL (the line survives as lineage, select_fetches drops it),
        # not an ANSI CAST_INVALID_INPUT task failure
        j["length"].try_cast("bigint").alias("length"),
        j["offset"].try_cast("bigint").alias("offset"),
        j["filename"].alias("filename"),
        # Common Crawl's index enriches captures with detected languages
        # (comma-joined ISO codes) and charset; NULL when absent — a
        # language-targeted corpus slices on these BEFORE fetching bytes
        j["languages"].alias("languages"),
        j["charset"].alias("charset"),
    )


def read_cdx(spark, paths) -> DataFrame:
    """CDXJ file(s) (plain or .gz — Spark's text source decodes by
    extension) → parsed index frame.  One file splits across tasks
    fine: CDXJ is line-oriented with no cross-line state."""
    return parse_cdx_lines(spark.read.text(paths))


def select_fetches(
    cdx: DataFrame,
    mimes: tuple = ("text/html", "application/pdf"),
    statuses: tuple = ("200",),
    languages: tuple | None = None,
) -> DataFrame:
    """Index-side record selection: keep wanted statuses/mimes, ONE
    capture per content digest (the latest timestamp wins — identical
    payloads appear under many URLs and recrawls), and return the fetch
    plan (urlkey, timestamp, url, mime, digest, filename, offset,
    length) a WARC range-reader consumes grouped by file.

    Scale shape: one filter (pushed to the scan when the index is
    parquet-materialized) + one digest-keyed aggregation.  The argmax is
    a struct max — order-independent at any parallelism."""
    wanted = cdx.filter(
        F.col("status").isin(*statuses)
        & F.col("mime").isin(*mimes)
        & F.col("digest").isNotNull()
        & F.col("offset").isNotNull()
    )
    if languages:
        # language-targeted slice on the index's detected-language
        # codes (comma-joined, e.g. 'eng,deu') — captures the index
        # could not language-detect are excluded from a targeted slice
        lang_pred = None
        for code in languages:
            p = F.col("languages").contains(code)
            lang_pred = p if lang_pred is None else (lang_pred | p)
        wanted = wanted.filter(
            F.col("languages").isNotNull() & lang_pred
        )
    best = wanted.groupBy("digest").agg(
        F.max(
            F.struct(
                "timestamp", "urlkey", "url", "mime",
                "filename", "offset", "length",
            )
        ).alias("_c")
    )
    return best.select(
        F.col("_c.urlkey").alias("urlkey"),
        F.col("_c.timestamp").alias("timestamp"),
        F.col("_c.url").alias("url"),
        F.col("_c.mime").alias("mime"),
        "digest",
        F.col("_c.filename").alias("filename"),
        F.col("_c.offset").alias("offset"),
        F.col("_c.length").alias("length"),
    ).orderBy("filename", "offset")


def write_cdxj(path: str, records) -> int:
    """Deterministic CDXJ writer for tests/round trips: `records` is an
    iterable of dicts with keys (urlkey, timestamp, url, mime, status,
    digest, length, offset, filename).  Lines are written in input
    order; `.gz` paths gzip the whole file (the published layout)."""
    import gzip
    import json

    out = []
    for r in records:
        j = {
            "url": r["url"],
            "mime": r["mime"],
            "status": str(r["status"]),
            "digest": r["digest"],
            "length": str(r["length"]),
            "offset": str(r["offset"]),
            "filename": r["filename"],
        }
        out.append(
            f"{r['urlkey']} {r['timestamp']} "
            + json.dumps(j, separators=(", ", ": "))
        )
    data = ("\n".join(out) + "\n").encode("utf-8")
    if path.endswith(".gz"):
        with open(path, "wb") as raw:
            with gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as fh:
                fh.write(data)
    else:
        with open(path, "wb") as fh:
            fh.write(data)
    return len(out)


def cdx_lines_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic CDXJ index corpus from the documents table, pure
    codegen: TWO captures per document (the initial fetch and a recrawl
    one day later at a different offset, SAME content digest — the
    digest-dedup shape), status 404 every 17th doc, mime text/xml every
    19th / application/pdf every 13th (xml wins overlaps), so
    `select_fetches` has real filtering and argmax work.  Every field
    derives from doc_id arithmetic — the oracle reconstructs the
    selected plan without parsing anything."""
    did = F.col("doc_id").cast("string")
    base_ts = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    urlkey = F.concat(F.lit("com,example,"), F.col("source"),
                      F.lit(")/doc/"), did)
    url = F.concat(
        F.lit("https://www."), F.col("source"),
        F.lit(".example.com/doc/"), did,
    )
    mime = (
        F.when(F.col("doc_id") % 19 == 0, F.lit("text/xml"))
        .when(F.col("doc_id") % 13 == 0, F.lit("application/pdf"))
        .otherwise(F.lit("text/html"))
    )
    status = F.when(F.col("doc_id") % 17 == 0, F.lit("404")).otherwise(
        F.lit("200")
    )
    digest = F.md5(F.encode(F.col("text"), "UTF-8"))

    def line(ts_extra_secs: int, offset_delta: int):
        ts = F.date_format(
            base_ts
            + F.make_interval(
                secs=(F.col("doc_id") + F.lit(ts_extra_secs)).cast("double")
            ),
            "yyyyMMddHHmmss",
        )
        offset = (F.col("doc_id") * 1000 + F.lit(offset_delta)).cast("string")
        return F.concat(
            urlkey, F.lit(" "), ts, F.lit(' {"url": "'), url,
            F.lit('", "mime": "'), mime, F.lit('", "status": "'), status,
            F.lit('", "digest": "'), digest,
            F.lit('", "length": "900", "offset": "'), offset,
            F.lit('", "filename": "crawl-'), F.col("source"),
            F.lit('.warc.gz"}'),
        )

    return docs.select(
        F.explode(F.array(line(0, 0), line(86400, 500))).alias("value")
    )
