"""Precompute expected render output for the driver's DuckDB correctness
oracle — single-process, NO Spark, so it is an independent check of the
whole Spark render path (corpus synthesis, partitioning, mapInPandas
batching, error plumbing).

For each testdata scale factor, synthesize every page with the pure-Python
corpus replica (`sources.corpus.synthesize_page_py`), render it directly
with the engine (`engine.api.html_to_text` / `html_to_lines`, the same
entry points the Spark operator calls per row), and record:

  doc_key        md5(doc_id|source|lang|text) over the *source document* —
                 recomputable in SQL from the registered `documents` view,
                 so an oracle works at any sf dir that has been built here
  url, text, error, text_bytes          (render_pages expectations)
  n_lines, n_link_spans                 (rich/annotated path expectations)

Output: goldens/render_goldens.parquet in this checkout (committed).

Usage: python scripts/build_render_goldens.py [sf_dir ...]
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

DEFAULT_SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]
OUT = str(REPO / "goldens" / "render_goldens.parquet")
WIDTH = 80


def build_rows(sf_dir: str) -> list[dict]:
    import pyarrow.parquet as pq

    from rust_html2text_spark.engine.api import html_to_lines, html_to_text
    from rust_html2text_spark.engine.errors import RenderError
    from rust_html2text_spark.engine.extract import (
        extract_main_ex,
        extract_main_links,
    )
    from rust_html2text_spark.engine.metadata import page_metadata
    from rust_html2text_spark.engine.pdftext import PdfError, extract_pdf_ex
    from rust_html2text_spark.sources.corpus import (
        synthesize_chrome_page_py,
        synthesize_page_py,
    )
    from rust_html2text_spark.sources.pdfcorpus import build_pdf

    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang", "source"]
    ).to_pylist()
    rows = []
    for d in docs:
        doc_id, text, lang, source = d["doc_id"], d["text"], d["lang"], d["source"]
        url, html = synthesize_page_py(doc_id, text, source)
        key = hashlib.md5(
            f"{doc_id}|{source}|{lang}|{text}".encode("utf-8")
        ).hexdigest()
        try:
            rendered = html_to_text(html, WIDTH)
            error = None
            text_bytes = len(rendered.encode("utf-8"))
        except RenderError as e:
            rendered, error, text_bytes = None, type(e).__name__, 0
        except Exception as e:  # mirror the operator's never-fail contract
            rendered, error, text_bytes = None, f"Fail:{type(e).__name__}", 0
        try:
            lines = html_to_lines(html, WIDTH)
            n_lines = len(lines)
            n_links = sum(
                1
                for line in lines
                for ts in line.tagged_strings()
                for ann in ts.tag
                if ann and ann[0] == "Link"
            )
        except Exception:
            n_lines, n_links = -1, -1
        # main-content extraction over the chrome-wrapped variant of the
        # same page (the boilerplate-strip expectation)
        _, chrome_html = synthesize_chrome_page_py(doc_id, text, source, lang)
        try:
            ex = extract_main_ex(chrome_html, WIDTH)
            main_text, main_error = ex["text"], None
            main_winner, main_score = ex["winner_tag"], float(ex["score"])
        except RenderError as e:
            main_text, main_error = None, type(e).__name__
            main_winner, main_score = None, None
        except Exception as e:
            main_text, main_error = None, f"Fail:{type(e).__name__}"
            main_winner, main_score = None, None
        # main-content link graph + head metadata over the same chrome page
        try:
            raw_links = extract_main_links(chrome_html, base_url=url)
            links = [
                {
                    "ordinal": o,
                    "href": h,
                    "anchor": a,
                    "nofollow": nf,
                    "target_abs": t,
                }
                for o, h, a, nf, t in raw_links
            ]
            links_json = json.dumps(raw_links, separators=(",", ":"))
        except Exception:
            links, links_json = None, None
        try:
            meta = page_metadata(chrome_html)
        except Exception:
            meta = {}
        # charset lanes: WHATWG sniff + decode in front of the same
        # extraction (the operator's charset_sniff=True path)
        from rust_html2text_spark.engine.charset import decode_html
        from rust_html2text_spark.sources.corpus import (
            synthesize_charset_page_py,
        )

        cs_url, cs_raw = synthesize_charset_page_py(doc_id, text, source, lang)
        cs_codec, cs_src = None, None
        try:
            dec, cs_codec, cs_src = decode_html(cs_raw)
            cs_text, cs_error = extract_main_ex(dec, WIDTH)["text"], None
        except RenderError as e:
            cs_text, cs_error = None, type(e).__name__
        except Exception as e:
            cs_text, cs_error = None, f"Fail:{type(e).__name__}"
        # PDF lane: deterministic writer + structure/layout extractor
        try:
            pex = extract_pdf_ex(build_pdf(doc_id, text, source))
            pdf_text, pdf_error, pdf_n_pages = pex["text"], None, pex["n_pages"]
            pdf_title, pdf_author = pex["title"], pex["author"]
            pdf_links = [
                {"page": p, "ordinal": o, "uri": u} for p, o, u in pex["links"]
            ]
        except PdfError as e:
            pdf_text, pdf_error, pdf_n_pages = None, f"PdfError:{e}"[:200], 0
            pdf_title, pdf_author, pdf_links = None, None, None
        except Exception as e:
            pdf_text, pdf_error, pdf_n_pages = None, f"Fail:{type(e).__name__}", 0
            pdf_title, pdf_author, pdf_links = None, None, None
        rows.append(
            {
                "doc_key": key,
                "url": url,
                "text": rendered,
                "error": error,
                "text_bytes": text_bytes,
                "n_lines": n_lines,
                "n_link_spans": n_links,
                "main_text": main_text,
                "main_error": main_error,
                "main_winner_tag": main_winner,
                "main_score": main_score,
                "pdf_text": pdf_text,
                "pdf_error": pdf_error,
                "pdf_n_pages": pdf_n_pages,
                "pdf_title": pdf_title,
                "pdf_author": pdf_author,
                "pdf_links": pdf_links,
                "cs_text": cs_text,
                "cs_error": cs_error,
                "cs_encoding": cs_codec,
                "cs_encoding_source": cs_src,
                "main_links": links,
                "main_links_json": links_json,
                "meta_title": meta.get("title"),
                "meta_description": meta.get("description"),
                "meta_lang": meta.get("lang_attr"),
                "meta_canonical": meta.get("canonical"),
                "meta_og_title": meta.get("og_title"),
                "meta_robots": meta.get("robots"),
            }
        )
    return rows


def main() -> None:
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dirs = sys.argv[1:] or DEFAULT_SF_DIRS
    by_key: dict[str, dict] = {}
    for sf_dir in sf_dirs:
        rows = build_rows(sf_dir)
        for r in rows:
            by_key[r["doc_key"]] = r
        print(f"{sf_dir}: {len(rows)} docs rendered")
    table = pa.Table.from_pylist(
        sorted(by_key.values(), key=lambda r: r["doc_key"]),
        schema=pa.schema(
            [
                ("doc_key", pa.string()),
                ("url", pa.string()),
                ("text", pa.string()),
                ("error", pa.string()),
                ("text_bytes", pa.int64()),
                ("n_lines", pa.int64()),
                ("n_link_spans", pa.int64()),
                ("main_text", pa.string()),
                ("main_error", pa.string()),
                ("main_winner_tag", pa.string()),
                ("main_score", pa.float64()),
                ("pdf_text", pa.string()),
                ("pdf_error", pa.string()),
                ("pdf_n_pages", pa.int64()),
                ("pdf_title", pa.string()),
                ("pdf_author", pa.string()),
                (
                    "pdf_links",
                    pa.list_(
                        pa.struct(
                            [
                                ("page", pa.int64()),
                                ("ordinal", pa.int64()),
                                ("uri", pa.string()),
                            ]
                        )
                    ),
                ),
                ("cs_text", pa.string()),
                ("cs_error", pa.string()),
                ("cs_encoding", pa.string()),
                ("cs_encoding_source", pa.string()),
                (
                    "main_links",
                    pa.list_(
                        pa.struct(
                            [
                                ("ordinal", pa.int64()),
                                ("href", pa.string()),
                                ("anchor", pa.string()),
                                ("nofollow", pa.int64()),
                                ("target_abs", pa.string()),
                            ]
                        )
                    ),
                ),
                ("main_links_json", pa.string()),
                ("meta_title", pa.string()),
                ("meta_description", pa.string()),
                ("meta_lang", pa.string()),
                ("meta_canonical", pa.string()),
                ("meta_og_title", pa.string()),
                ("meta_robots", pa.string()),
            ]
        ),
    )
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    pq.write_table(table, OUT, compression="zstd")
    print(f"wrote {table.num_rows} goldens to {OUT}")


if __name__ == "__main__":
    main()
