"""Seeded benchmark inputs and their expected outputs.

The source documents come from the committed golden table
(goldens/render_goldens.parquet).  Each golden row carries
doc_key = md5(doc_id|source|lang|text) of its source document plus the
expected render, main-content and PDF text.  The document text is
recovered from the golden PDF text (its body lines are the text wrapped
at spaces) and checked against doc_key, so the benchmark reads nothing
outside the checkout.

Every input row records what its output must be: the golden text where
the page is byte-for-byte a corpus page (a trailing `<!--n-->` stamp makes
copies distinct and does not change the text), otherwise None, meaning
"ask the in-process engine".
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from dataclasses import dataclass

GOLDENS = os.path.join("goldens", "render_goldens.parquet")
_DOC_URL = re.compile(r"https://www\.(src\d+)\.example\.com/doc/(\d+)$")


@dataclass(frozen=True)
class Doc:
    key: str
    doc_id: int
    source: str
    lang: str
    text: str
    golden_text: str
    golden_main: str
    golden_pdf: str


@dataclass
class Row:
    url: str
    payload: bytes
    kind: str  # "html" (render), "chrome" (main-content extract) or "pdf"
    doc: Doc
    expected: str | None  # None: compare with the in-process engine call
    group: int = -1  # duplicate group (crawl_dedup)


def load_documents(root: str) -> list[Doc]:
    import pyarrow.parquet as pq

    cols = ["doc_key", "url", "meta_lang", "pdf_text", "text", "main_text"]
    docs = []
    for r in pq.read_table(os.path.join(root, GOLDENS), columns=cols).to_pylist():
        m = _DOC_URL.match(r["url"] or "")
        if m is None or r["pdf_text"] is None or r["text"] is None:
            raise ValueError(f"golden row {r['doc_key']} has no usable source")
        source, doc_id = m.group(1), int(m.group(2))
        # per page: header line, title line, body lines..., footer line
        body = [
            line
            for page in r["pdf_text"].split("\f")
            for line in page.split("\n")[2:-1]
        ]
        text = " ".join(body)
        key = hashlib.md5(
            f"{doc_id}|{source}|{r['meta_lang']}|{text}".encode("utf-8")
        ).hexdigest()
        if key != r["doc_key"]:
            raise ValueError(f"cannot recover the source text of {r['doc_key']}")
        docs.append(
            Doc(key, doc_id, source, r["meta_lang"], text,
                r["text"], r["main_text"], r["pdf_text"])
        )
    docs.sort(key=lambda d: d.key)
    return docs


def _page(doc: Doc) -> bytes:
    from rust_html2text_spark.sources.corpus import synthesize_page_py

    return synthesize_page_py(doc.doc_id, doc.text, doc.source)[1]


def _stamp(n: int) -> bytes:
    return b"<!--%d-->" % n


def render_rows(
    docs: list[Doc], rng: random.Random, n: int, hot_frac: float,
    oversize_every: int, oversize_mult: int,
) -> list[Row]:
    """Plain corpus pages, distinct per row; the seed picks the documents,
    the hot-host rows and the oversized rows (body repeated)."""
    hot = set(rng.sample(range(n), round(n * hot_frac)))
    big = set(rng.sample(range(n), n // oversize_every if oversize_every else 0))
    rows = []
    for i in range(n):
        doc = docs[rng.randrange(len(docs))]
        host = "hot.example.com" if i in hot else f"www.{doc.source}.example.com"
        html = _page(doc)
        if i in big:
            body = html[len(b"<html><body>") : -len(b"</body></html>")]
            html = b"<html><body>" + body * oversize_mult + b"</body></html>"
        rows.append(
            Row(
                f"https://{host}/doc/{doc.doc_id}?copy={i}",
                html + _stamp(i),
                "html",
                doc,
                None if i in big else doc.golden_text,
            )
        )
    return rows


def chrome_rows(docs: list[Doc], rng: random.Random, n: int) -> list[Row]:
    """Chrome-wrapped pages (nav, header, sidebar, footer around an article)
    for the main-content extractor."""
    from rust_html2text_spark.sources.corpus import synthesize_chrome_page_py

    rows = []
    for i in range(n):
        doc = docs[rng.randrange(len(docs))]
        _, html = synthesize_chrome_page_py(doc.doc_id, doc.text, doc.source, doc.lang)
        rows.append(
            Row(
                f"https://www.{doc.source}.example.com/doc/{doc.doc_id}?copy={i}",
                html + _stamp(i),
                "chrome",
                doc,
                doc.golden_main,
            )
        )
    return rows


def mixed_rows(docs: list[Doc], rng: random.Random, n: int) -> list[Row]:
    """Half HTML pages (even doc ids), half PDFs (odd doc ids, including
    the encrypted lanes), as in sources.pdfcorpus.mixed_pages_from_documents.
    Documents are drawn without replacement, so every payload is distinct."""
    from rust_html2text_spark.sources.pdfcorpus import build_pdf

    even = [d for d in docs if d.doc_id % 2 == 0]
    odd = [d for d in docs if d.doc_id % 2 == 1]
    html = [
        Row(
            f"https://www.{doc.source}.example.com/doc/{doc.doc_id}?copy={i}",
            _page(doc) + _stamp(i),
            "html",
            doc,
            doc.golden_text,
        )
        for i, doc in enumerate(rng.sample(even, n - n // 2))
    ]
    pdf = [
        Row(
            f"https://www.{doc.source}.example.com/pdf/{doc.doc_id}?copy={i}",
            build_pdf(doc.doc_id, doc.text, doc.source),
            "pdf",
            doc,
            doc.golden_pdf,
        )
        for i, doc in enumerate(rng.sample(odd, n // 2))
    ]
    # interleaved, so any leading slice holds both kinds
    return [r for pair in zip(html, pdf) for r in pair] + html[len(pdf) :]


def dedup_rows(
    docs: list[Doc], rng: random.Random, n: int, dup_factor: int, reuse_frac: float
) -> list[Row]:
    """Every group of `dup_factor` urls shares the same bytes.  A share of
    the groups reuses an earlier group's document under another stamp:
    different bytes, same text, which the near-duplicate clustering must
    merge."""
    rows = []
    chosen: list[Doc] = []
    for g in range(n // dup_factor):
        if chosen and rng.random() < reuse_frac:
            doc = chosen[rng.randrange(len(chosen))]
        else:
            doc = docs[rng.randrange(len(docs))]
        chosen.append(doc)
        html = _page(doc) + _stamp(g)
        for k in range(dup_factor):
            i = g * dup_factor + k
            rows.append(
                Row(
                    f"https://www.{doc.source}.example.com/doc/{doc.doc_id}?copy={i}",
                    html,
                    "html",
                    doc,
                    doc.golden_text,
                    g,
                )
            )
    return rows


def write_rows(rows: list[Row], out_dir: str, files: int, rng: random.Random) -> None:
    """Write rows as `files` parquet files of (url, warc_ts, html, text,
    lang) in a seeded row order: the program's whole input."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    order = list(range(len(rows)))
    rng.shuffle(order)
    epoch = datetime.datetime(2026, 1, 1)
    per = -(-len(order) // files)
    for f in range(files):
        part = [rows[i] for i in order[f * per : (f + 1) * per]]
        if not part:
            continue
        table = pa.table(
            {
                "url": [r.url for r in part],
                "warc_ts": pa.array(
                    [epoch + datetime.timedelta(seconds=r.doc.doc_id) for r in part],
                    pa.timestamp("us", tz="UTC"),
                ),
                "html": pa.array([r.payload for r in part], pa.binary()),
                "text": pa.array([None] * len(part), pa.string()),
                "lang": [r.doc.lang for r in part],
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))
