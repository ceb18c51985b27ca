"""Sitemap parsing for the crawl frontier (sitemaps.org protocol).

robots.txt surfaces each host's `Sitemap:` URLs (functions/robots.py →
`robots_host_policy`/`sitemap_edges`); once a crawler fetches those
documents, this module turns them into frontier rows: `<urlset>` files
yield per-URL entries (loc + the optional lastmod/changefreq/priority
scheduling hints), `<sitemapindex>` files yield child-sitemap edges a
crawler feeds back into its fetch queue.  Together with the robots gate
and the politeness scheduler this closes the loop:
frontier → robots gate → sitemap edges → fetched sitemap → more
frontier, all host-keyed.

Bounds per the published protocol: a sitemap file lists at most 50,000
URLs — entries beyond `max_urls` are dropped with a `truncated` flag
(same lineage idea as the robots §2.5 caps), so a hostile or broken
generator cannot turn one host's sitemap into a row bomb.

Scale shape: one sitemap document is one row (tiny, ≤50 MB per spec);
parsing is a per-row mapInPandas over the house XML parser
(engine/xmlparse — the xml5ever-fidelity parser the render path already
certifies), exploding to at most `max_urls` rows per input row.  No
joins, no shuffles beyond what the caller does with the edges.

Derived from the published sitemaps.org protocol only.
"""

from __future__ import annotations

from typing import NamedTuple, Optional

from pyspark.sql import DataFrame

__all__ = [
    "decode_sitemap",
    "parse_sitemap",
    "sitemap_entries",
    "recrawl_priority",
    "MAX_SITEMAP_URLS",
    "MAX_SITEMAP_BYTES",
]

# sitemaps.org: "A Sitemap file can contain no more than 50,000 URLs"
MAX_SITEMAP_URLS = 50_000
# sitemaps.org: "and must be no larger than 50MB (52,428,800 bytes)"
# uncompressed — also the decompression budget for .xml.gz payloads
# (a gzip bomb becomes a skipped document, never an executor OOM)
MAX_SITEMAP_BYTES = 50 * 1024 * 1024


def decode_sitemap(
    data, max_bytes: int = MAX_SITEMAP_BYTES
) -> Optional[str]:
    """Fetched sitemap payload → text.  Sitemaps are published both
    plain and gzip-compressed (`sitemap.xml.gz`); gzip is sniffed by
    magic bytes and decompressed under `max_bytes` (the protocol's own
    50 MB uncompressed limit doubles as the bomb budget).  Returns None
    for undecodable payloads.  Str input passes through."""
    if data is None:
        return None
    if isinstance(data, str):
        return data if len(data) <= max_bytes else None
    data = bytes(data)
    if data[:2] == b"\x1f\x8b":
        import zlib

        try:
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            out = d.decompress(data, max_bytes)
            if d.unconsumed_tail:  # budget hit mid-stream: bomb
                return None
            if not d.eof:  # truncated stream (no error, just incomplete)
                return None
        except zlib.error:
            return None
        data = out
    if len(data) > max_bytes:
        return None
    if data[:3] == b"\xef\xbb\xbf":
        data = data[3:]
    return data.decode("utf-8", "replace")

_CHANGEFREQS = frozenset(
    "always hourly daily weekly monthly yearly never".split()
)


class SitemapEntry(NamedTuple):
    loc: str
    lastmod: Optional[str]
    changefreq: Optional[str]
    priority: Optional[float]


class Sitemap(NamedTuple):
    kind: str  # 'urlset' | 'sitemapindex'
    entries: list  # [SitemapEntry]; for sitemapindex only loc/lastmod set
    truncated: bool


def _text_of(node) -> str:
    parts = []
    for c in node.children:
        if c.kind == "text":
            parts.append(c.text or "")
        else:
            parts.append(_text_of(c))
    return "".join(parts)


def _local(name: Optional[str]) -> str:
    # namespace-prefixed element names (ns:loc) compare by local name;
    # the sitemap namespace is usually the default xmlns but feeds in
    # the wild also use explicit prefixes
    n = (name or "").lower()
    return n.rsplit(":", 1)[-1]


def parse_sitemap(
    xml: str, max_urls: int = MAX_SITEMAP_URLS
) -> Optional[Sitemap]:
    """Parse one sitemap document (str, or raw fetched bytes — possibly
    gzipped — via :func:`decode_sitemap`).  Returns None when the
    document has no <urlset>/<sitemapindex> root (not a sitemap; a
    crawler skips it).  Invalid optional fields degrade to None rather
    than dropping the entry: a bad <priority> must not cost the crawler
    the <loc>."""
    from rust_html2text_spark.engine.xmlparse import parse_xml

    if not isinstance(xml, str):
        xml = decode_sitemap(xml)
        if xml is None:
            return None
    try:
        dom = parse_xml(xml)
    except Exception:
        return None
    root = None
    for c in dom.children:
        if c.kind == "element" and _local(c.name) in (
            "urlset",
            "sitemapindex",
        ):
            root = c
            break
    if root is None:
        return None
    import re

    # sitemaps.org: <loc> "must begin with the protocol" and be under
    # 2,048 characters — relative or oversized locs are not fetchable
    # frontier targets and are dropped like loc-less entries
    loc_ok = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://\S+$")
    kind = _local(root.name)
    child_tag = "url" if kind == "urlset" else "sitemap"
    entries: list[SitemapEntry] = []
    truncated = False
    for item in root.children:
        if item.kind != "element" or _local(item.name) != child_tag:
            continue
        loc = lastmod = changefreq = None
        priority: Optional[float] = None
        for f in item.children:
            if f.kind != "element":
                continue
            fname = _local(f.name)
            val = _text_of(f).strip()
            if fname == "loc" and val:
                loc = val
            elif fname == "lastmod" and val:
                lastmod = val
            elif fname == "changefreq":
                v = val.lower()
                if v in _CHANGEFREQS:
                    changefreq = v
            elif fname == "priority":
                try:
                    p = float(val)
                except ValueError:
                    continue
                if 0.0 <= p <= 1.0:
                    priority = p
        if not loc or len(loc) >= 2048 or not loc_ok.match(loc):
            continue  # loc is the one REQUIRED field, and must be absolute
        if len(entries) >= max_urls:
            truncated = True
            break
        entries.append(SitemapEntry(loc, lastmod, changefreq, priority))
    return Sitemap(kind, entries, truncated)


ENTRIES_SCHEMA = (
    "host string, sitemap_kind string, ordinal int, loc string, "
    "lastmod string, changefreq string, priority double, truncated boolean"
)


def sitemap_entries(
    sitemaps: DataFrame,
    host_col: str = "host",
    xml_col: str = "sitemap_xml",
    max_urls: int = MAX_SITEMAP_URLS,
) -> DataFrame:
    """(host, sitemap_xml) → one row per sitemap entry:
    (host, sitemap_kind, ordinal, loc, lastmod, changefreq, priority,
    truncated).  Non-sitemap / unparseable documents emit nothing;
    `ordinal` preserves file order (1-based) within each input row."""
    from typing import Iterator

    import pandas as pd

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = {k: [] for k in (
                "host", "sitemap_kind", "ordinal", "loc", "lastmod",
                "changefreq", "priority", "truncated",
            )}
            for host, xml in zip(batch[host_col], batch[xml_col]):
                if xml is None:
                    continue
                sm = parse_sitemap(xml, max_urls)
                if sm is None:
                    continue
                for i, e in enumerate(sm.entries, start=1):
                    rows["host"].append(host)
                    rows["sitemap_kind"].append(sm.kind)
                    rows["ordinal"].append(i)
                    rows["loc"].append(e.loc)
                    rows["lastmod"].append(e.lastmod)
                    rows["changefreq"].append(e.changefreq)
                    rows["priority"].append(e.priority)
                    rows["truncated"].append(sm.truncated)
            yield pd.DataFrame(rows)

    return sitemaps.select(host_col, xml_col).mapInPandas(
        parse, ENTRIES_SCHEMA
    )


# seconds per <changefreq> bucket — 'never' pages still get a slow
# revisit lane (pages claiming never still change; a crawler that takes
# the publisher literally forever serves stale forever)
_FREQ_SECS = {
    "always": 3600,
    "hourly": 3600,
    "daily": 86400,
    "weekly": 604800,
    "monthly": 2592000,
    "yearly": 31536000,
    "never": 4 * 31536000,
}


def recrawl_priority(
    entries: DataFrame,
    now: str = "2026-03-01 00:00:00",
    default_changefreq_secs: int = 604800,
    default_priority: float = 0.5,
) -> DataFrame:
    """Freshness-driven recrawl scoring over parsed sitemap entries
    (:func:`sitemap_entries` output): adds

      age_secs      seconds since <lastmod> at `now` (NULL when the
                    publisher gave no lastmod — unknown-age pages rank
                    by the due-cycle midpoint instead of a fake age)
      due_cycles    age / changefreq-interval, clamped to [0, 10] (one
                    unit = "exactly one declared change interval has
                    passed"); lastmod-less entries score 1.0 (due now,
                    but never starving dated entries)
      recrawl_score due_cycles × <priority> (publisher weight,
                    default 0.5) — ORDER BY recrawl_score DESC is the
                    recrawl queue

    Everything is whole-stage codegen (a CASE over the changefreq
    vocabulary + timestamp arithmetic); `now` is an explicit argument —
    never wall-clock — so runs are deterministic and oracle-checkable."""
    from pyspark.sql import functions as F

    freq = F.coalesce(
        *[
            F.when(F.col("changefreq") == k, F.lit(v))
            for k, v in _FREQ_SECS.items()
        ],
        F.lit(default_changefreq_secs),
    ).cast("double")
    # lastmod is date-only ('2026-01-05') or W3C datetime (optionally
    # with a zone offset); try_to_* variants because hostile values
    # must yield NULL, not an ANSI CANNOT_PARSE_TIMESTAMP task failure
    lm = F.coalesce(
        F.try_to_timestamp(F.col("lastmod"), F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(F.col("lastmod")),
        F.try_to_timestamp(
            F.col("lastmod"), F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")
        ),
    )
    age = (
        F.unix_timestamp(F.lit(now)) - F.unix_timestamp(lm)
    ).cast("double")
    due = F.when(
        age.isNull(), F.lit(1.0)
    ).otherwise(F.least(F.greatest(age / freq, F.lit(0.0)), F.lit(10.0)))
    return entries.select(
        "host",
        "loc",
        "lastmod",
        "changefreq",
        "priority",
        age.alias("age_secs"),
        due.alias("due_cycles"),
        (due * F.coalesce(F.col("priority"), F.lit(float(default_priority))))
        .alias("recrawl_score"),
    )
