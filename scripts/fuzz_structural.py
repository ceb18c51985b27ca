"""Structural mutation fuzz for the binary-format readers (PDF + WARC)
and the HTML engine.

Deterministic (seeded) byte-level mutations — flips, deletions,
insertions — over every writer flavour, asserting the robustness
contract each reader documents:

- PDF: extract_pdf_ex raises ONLY PdfError on unusable input, and is
  deterministic (same bytes → same dict) on whatever it accepts.
- WARC: the readers' record iterator (sources/warc._iter_pages over an
  in-memory archive) raises only the file-level contract set (OSError /
  EOFError / zlib.error — inside what the readers' record batcher
  contains per stream), is deterministic, and never explodes into
  unbounded duplicate rows (the negative-Content-Length livelock class).
- HTML: html_to_text and extract_main, over mutated golden pages, raise
  ONLY RenderError subclasses (TooNarrow / Fail / CssParseError), and
  are deterministic (same bytes → same text).

This is the harness that found the round-4 _as_int escapes (corrupt
/ObjStm N, scalar /Kids).  Run standalone; the committed pytest suites
carry smaller hypothesis variants of the same properties.

Usage: python scripts/fuzz_structural.py [trials_per_target=12000] [seed=42]
"""

from __future__ import annotations

import random
import sys
import zlib
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def mutate(rng: random.Random, base: bytes) -> bytes:
    buf = bytearray(base)
    for _ in range(rng.randint(1, 6)):
        op = rng.random()
        if op < 0.5 and buf:
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        elif op < 0.8 and buf:
            i = rng.randrange(len(buf))
            del buf[i : i + rng.randint(1, 60)]
        else:
            i = rng.randrange(len(buf) + 1)
            buf[i:i] = bytes(rng.randrange(256) for _ in range(rng.randint(1, 25)))
    return bytes(buf)


def fuzz_pdf(trials: int, seed: int) -> int:
    from rust_html2text_spark.engine.pdfparse import PdfError
    from rust_html2text_spark.engine.pdftext import extract_pdf_ex
    from rust_html2text_spark.sources.pdfcorpus import build_pdf

    rng = random.Random(seed)
    bases = [
        build_pdf(i, " ".join(f"w{j}," for j in range(150)), f"s{i}")
        # both xref flavours × compression, plus every encrypted lane:
        # RC4-128/R3 (4), AES-128/R4 (7), AES-256/R6 (11), RC4-40/R2
        # (16), AES-256/R5 (29) — mutating /Encrypt shapes is exactly
        # where hostile-crypto escapes live
        for i in (0, 1, 2, 3, 4, 7, 11, 16, 29)
    ]
    crashes = 0
    for trial in range(trials):
        data = mutate(rng, rng.choice(bases))
        try:
            a = extract_pdf_ex(data)
            b = extract_pdf_ex(data)
            assert a == b, f"pdf nondeterminism at trial {trial}"
        except PdfError:
            pass
        except Exception as e:
            crashes += 1
            print(f"PDF CRASH trial {trial}: {type(e).__name__}: {e}")
    return crashes


def fuzz_warc(trials: int, seed: int) -> int:
    import io
    import os
    import tempfile
    from datetime import datetime

    from rust_html2text_spark.sources.warc import (
        _fileobj_chunks,
        _iter_pages,
        write_warc_file,
    )

    def parse(data: bytes) -> list:
        return list(_iter_pages(_fileobj_chunks(io.BytesIO(data))))

    recs = [
        (f"https://e.x/{i}", datetime(2026, 1, 1), b"<p>body %d</p>" % i)
        for i in range(5)
    ]
    bases = []
    for enc in (None, "gzip", "chunked", "gzip+chunked"):
        for gz in (True, False):
            path = tempfile.mktemp()
            write_warc_file(path, recs, gzip_members=gz, http_encoding=enc)
            with open(path, "rb") as fh:
                bases.append(fh.read())
            os.unlink(path)

    rng = random.Random(seed)
    crashes = 0
    for trial in range(trials):
        data = mutate(rng, rng.choice(bases))
        try:
            a = parse(data)
            b = parse(data)
            assert a == b, f"warc nondeterminism at trial {trial}"
            assert len(a) < 1000, f"warc row explosion at trial {trial}"
        except (OSError, EOFError, zlib.error):
            pass  # the record batcher contains these per stream
        except Exception as e:
            crashes += 1
            print(f"WARC CRASH trial {trial}: {type(e).__name__}: {e}")
    return crashes


def fuzz_html(trials: int, seed: int) -> int:
    import json

    from rust_html2text_spark.engine.api import html_to_text
    from rust_html2text_spark.engine.errors import RenderError
    from rust_html2text_spark.engine.extract import extract_main

    fixtures = json.loads(
        (REPO / "tests/fixtures/goldens.json").read_text()
    )["fixtures"]
    bases = [(f["html"].encode("utf-8"), f["width"]) for f in fixtures]

    def render(data: bytes, width: int) -> tuple:
        out = []
        for fn in (html_to_text, extract_main):
            try:
                out.append(fn(data, width))
            except RenderError as e:
                out.append(type(e).__name__)
        return tuple(out)

    rng = random.Random(seed)
    crashes = 0
    for trial in range(trials):
        base, width = rng.choice(bases)
        data = mutate(rng, base)
        try:
            a = render(data, width)
            b = render(data, width)
            assert a == b, f"html nondeterminism at trial {trial}"
        except Exception as e:
            crashes += 1
            print(f"HTML CRASH trial {trial}: {type(e).__name__}: {e}")
    return crashes


def main() -> None:
    trials = int(sys.argv[1]) if len(sys.argv) > 1 else 12000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    pdf_crashes = fuzz_pdf(trials, seed)
    warc_crashes = fuzz_warc(trials, seed)
    html_crashes = fuzz_html(trials, seed)
    print(
        f"{trials} trials per target: pdf_crashes={pdf_crashes} "
        f"warc_crashes={warc_crashes} html_crashes={html_crashes}"
    )
    sys.exit(1 if pdf_crashes or warc_crashes or html_crashes else 0)


if __name__ == "__main__":
    main()
