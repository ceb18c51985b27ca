"""PDF extraction tier (engine/pdfparse.py, engine/pdftext.py,
sources/pdfcorpus.py, operators/pdf.py): object grammar, filters, both
xref flavours, ObjStm, fonts/ToUnicode, layout assembly, writer round
trips, hostile-input robustness, and Spark-operator parity."""

from __future__ import annotations

import re
import sys
import zlib
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from rust_html2text_spark.engine.pdfparse import (  # noqa: E402
    Lexer,
    Name,
    PdfError,
    Ref,
    decode_stream,
    parse_pdf,
)
from rust_html2text_spark.engine.pdftext import (  # noqa: E402
    extract_pdf_ex,
    extract_pdf_text,
    parse_tounicode,
)
from rust_html2text_spark.sources.pdfcorpus import build_pdf  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from rust_html2text_spark.plans.session import get_spark

    s = get_spark(master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


# ---------------------------------------------------------------------------
# Object grammar
# ---------------------------------------------------------------------------


def parse_one(src: bytes):
    return Lexer(src).parse_object()


def test_lexer_scalars():
    assert parse_one(b" 42 ") == 42
    assert parse_one(b"-3.5") == -3.5
    assert parse_one(b".5") == 0.5
    assert parse_one(b"true") is True
    assert parse_one(b"false") is False
    assert parse_one(b"null") is None


def test_lexer_names_with_hash_escape():
    assert parse_one(b"/Foo") == Name("Foo")
    assert parse_one(b"/A#20B") == Name("A B")
    assert parse_one(b"/Type1") == Name("Type1")


def test_lexer_literal_strings():
    assert parse_one(rb"(hello)") == b"hello"
    assert parse_one(rb"(a(nested)b)") == b"a(nested)b"
    assert parse_one(rb"(tab\there)") == b"tab\there"
    assert parse_one(rb"(oct\101al)") == b"octAal"
    assert parse_one(rb"(esc\(paren)") == b"esc(paren"
    assert parse_one(b"(line\\\ncontinued)") == b"linecontinued"
    with pytest.raises(PdfError):
        parse_one(b"(unterminated")


def test_lexer_hex_strings():
    assert parse_one(b"<48656C6C6F>") == b"Hello"
    assert parse_one(b"<48 65 6C>") == b"Hel"
    assert parse_one(b"<481>") == b"H\x10"  # odd digit padded with 0


def test_lexer_dict_array_ref():
    d = parse_one(b"<< /A [1 2 R 3] /B << /C (x) >> /D 4 0 R >>")
    assert d["A"] == [1, Ref(2, 3)] or d["A"] == [Ref(1, 2), 3]
    # `1 2 R 3` parses as ref(1,2) then 3 per the grammar
    assert d["A"] == [Ref(1, 2), 3]
    assert d["B"] == {"C": b"x"}
    assert d["D"] == Ref(4, 0)


def test_lexer_comments_skipped():
    assert parse_one(b"% comment\n 7") == 7


# ---------------------------------------------------------------------------
# Filters
# ---------------------------------------------------------------------------


class FakeStream:
    def __init__(self, d, raw):
        self.dict = d
        self.raw = raw


def test_flate_filter():
    s = FakeStream({"Filter": Name("FlateDecode")}, zlib.compress(b"payload"))
    assert decode_stream(s) == b"payload"


def test_flate_png_up_predictor():
    rows = [b"abcd", b"abce", b"abcf"]
    # encode with PNG Up filter
    enc = bytearray()
    prev = b"\x00" * 4
    for r in rows:
        enc.append(2)
        enc.extend((r[i] - prev[i]) & 0xFF for i in range(4))
        prev = r
    s = FakeStream(
        {
            "Filter": Name("FlateDecode"),
            "DecodeParms": {"Predictor": 12, "Columns": 4},
        },
        zlib.compress(bytes(enc)),
    )
    assert decode_stream(s) == b"".join(rows)


def test_ascii_hex_and_85():
    s = FakeStream({"Filter": Name("ASCIIHexDecode")}, b"48 65 6c 6C 6f>")
    assert decode_stream(s) == b"Hello"
    import base64

    s = FakeStream(
        {"Filter": Name("ASCII85Decode")},
        base64.a85encode(b"Hello world") + b"~>",
    )
    assert decode_stream(s) == b"Hello world"


def test_run_length_filter():
    #  literal run of 3 ("abc"), repeat 'x' 4 times, EOD
    data = bytes([2]) + b"abc" + bytes([253]) + b"x" + bytes([128])
    s = FakeStream({"Filter": Name("RunLengthDecode")}, data)
    assert decode_stream(s) == b"abcxxxx"


def _lzw_encode(data: bytes) -> bytes:
    """Minimal PDF-flavour LZW encoder (EarlyChange=1) for round trips."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    code_len = 9
    out_bits = []

    def emit(code):
        out_bits.append((code, code_len))

    emit(256)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
        else:
            emit(table[w])
            table[wc] = next_code
            next_code += 1
            if next_code + 1 - 1 >= (1 << code_len) and code_len < 12:
                code_len += 1
            w = bytes([b])
    if w:
        emit(table[w])
    emit(257)
    acc = 0
    nbits = 0
    out = bytearray()
    for code, clen in out_bits:
        acc = (acc << clen) | code
        nbits += clen
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_lzw_filter_round_trip():
    payload = b"TOBEORNOTTOBEORTOBEORNOT" * 20
    s = FakeStream({"Filter": Name("LZWDecode")}, _lzw_encode(payload))
    assert decode_stream(s) == payload


def test_filter_chain():
    raw = zlib.compress(b"chained")
    s = FakeStream(
        {"Filter": [Name("ASCIIHexDecode"), Name("FlateDecode")]},
        raw.hex().encode() + b">",
    )
    assert decode_stream(s) == b"chained"


def test_unknown_filter_raises():
    s = FakeStream({"Filter": Name("DCTDecode")}, b"\xff\xd8")
    with pytest.raises(PdfError):
        decode_stream(s)


# ---------------------------------------------------------------------------
# Document structure
# ---------------------------------------------------------------------------


def test_writer_round_trip_all_variants():
    """doc_id parity drives xref flavour; %3 drives compression — all
    combos must round-trip the body through the extractor."""
    body = "the quick brown fox, jumps over the lazy dog, repeatedly and often"
    for did in range(6):
        pdf = build_pdf(did, body, "srcA")
        r = extract_pdf_ex(pdf)
        assert r["n_pages"] == 1
        assert "the quick brown fox, jumps over" in r["text"], did
        assert r["pdf_version"] == "1.7"


def test_writer_deterministic():
    a = build_pdf(9, "same input", "srcB")
    b = build_pdf(9, "same input", "srcB")
    assert a == b


def test_layout_reading_order():
    """Footer is FIRST in the content stream but must come out LAST;
    header runs (two show ops, one baseline) come out first, joined."""
    pdf = build_pdf(4, "body content line, with a comma", "srcC")
    lines = extract_pdf_text(pdf).split("\n")
    assert lines[0] == "The srcC journal https://www.srcC.example.com/pdf/4"
    assert lines[1] == "Doc 4 [srcC]"  # TJ kern produced the word gap
    assert lines[-1] == "Page 1 of 1 - doc 4"
    assert "body content line" in lines[2]


def test_multi_page_and_form_feeds():
    text = " ".join(f"w{i}" for i in range(3000))
    r = extract_pdf_ex(build_pdf(8, text, "srcD"))
    assert r["n_pages"] > 1
    assert r["text"].count("\f") == r["n_pages"] - 1
    pages = r["text"].split("\f")
    for i, page in enumerate(pages):
        assert page.splitlines()[-1].startswith(f"Page {i + 1} of {r['n_pages']}")


def test_non_ascii_identity_h_tounicode():
    r = extract_pdf_ex(build_pdf(5, "Привет мир 你好世界 naïve café", "src1"))
    body = r["text"].split("\n")[2]
    assert body == "Привет мир 你好世界 naïve café"


def test_winansi_literal_bytes():
    # é is 0xE9 in cp1252; writer keeps the line in the F1 WinAnsi lane
    r = extract_pdf_ex(build_pdf(2, "café crème, naïve", "srcE"))
    assert "café crème, naïve" in r["text"]


def test_incremental_update_newest_wins():
    """Append an updated content stream + xref section pointing at it;
    the reader must show the NEW text (newest definition wins)."""
    pdf = build_pdf(0, "original body text here", "srcF")
    # object 8 is the (only) page's content stream in the classic layout
    m = re.search(rb"(\d+) 0 obj\n<< /Filter /FlateDecode", pdf)
    content_num = int(m.group(1))
    new_content = zlib.compress(b"BT /F1 12 Tf 72 700 Td (REPLACED BODY) Tj ET")
    prev_xref = int(re.search(rb"startxref\n(\d+)", pdf).group(1))
    add = bytearray()
    off = len(pdf)
    add += b"%d 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n" % (
        content_num,
        len(new_content),
    )
    add += new_content + b"\nendstream\nendobj\n"
    xref_pos = off + len(add)
    add += b"xref\n%d 1\n%010d 00000 n \ntrailer\n<< /Size %d /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n" % (
        content_num,
        off,
        content_num + 1,
        prev_xref,
        xref_pos,
    )
    updated = pdf + bytes(add)
    text = extract_pdf_text(updated)
    assert "REPLACED BODY" in text
    assert "original body text" not in text


def test_brute_scan_recovers_broken_startxref():
    for did in (0, 1):  # classic and xref-stream flavours
        pdf = build_pdf(did, "recovery test content here", "srcX")
        broken = re.sub(rb"startxref\n\d+", b"startxref\n999999999", pdf)
        r = extract_pdf_ex(broken)
        assert "recovery test content" in r["text"], did


def test_truncated_pdf_is_error_not_crash():
    pdf = build_pdf(0, "some body", "srcY")
    for cut in (10, 100, len(pdf) // 2):
        try:
            extract_pdf_ex(pdf[:cut])
        except PdfError:
            pass  # either outcome is fine; no other exception type


def test_not_a_pdf_raises():
    with pytest.raises(PdfError):
        parse_pdf(b"<html>not a pdf</html>")
    with pytest.raises(PdfError):
        parse_pdf(b"%PDF-1.7\ngarbage with no objects")


def test_encrypted_pdf_rejected():
    pdf = build_pdf(0, "secret", "srcZ")
    # splice /Encrypt into the trailer
    broken = pdf.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 99 0 R")
    with pytest.raises(PdfError, match="encrypt"):
        parse_pdf(broken)


def test_page_tree_inheritance():
    """Resources live on the /Pages node in the writer — the extractor
    must inherit them into each page (watch for regressions if the
    writer ever changes)."""
    pdf = build_pdf(0, "inheritance check", "srcI")
    doc = parse_pdf(pdf)
    page = doc.pages()[0]
    assert "Resources" in page  # folded in by inheritance
    assert "Font" in doc.resolve(page["Resources"])


# ---------------------------------------------------------------------------
# ToUnicode / fonts
# ---------------------------------------------------------------------------


def test_parse_tounicode_bfchar_and_ranges():
    cmap = b"""
2 beginbfchar
<0041> <0061>
<0042> <00660066>
endbfchar
1 beginbfrange
<0050> <0052> <0070>
endbfrange
1 beginbfrange
<0060> <0061> [<0078> <0079>]
endbfrange
"""
    m = parse_tounicode(cmap)
    assert m[0x41] == "a"
    assert m[0x42] == "ff"  # multi-char destination
    assert m[0x50] == "p" and m[0x51] == "q" and m[0x52] == "r"
    assert m[0x60] == "x" and m[0x61] == "y"


def test_tounicode_range_bomb_bounded():
    cmap = b"1 beginbfrange\n<0000> <FFFFFF> <0000>\nendbfrange"
    m = parse_tounicode(cmap)
    assert len(m) <= 0x10001  # hostile range clamped


def _minimal_pdf(content: bytes, font_extra: str = "") -> bytes:
    """Hand-rolled single-page PDF with an uncompressed content stream."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        (
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> >> >>"
        ),
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica %s >>"
            % font_extra.encode()
        ),
    ]
    buf = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(buf))
        buf += b"%d 0 obj\n" % i + o + b"\nendobj\n"
    xref = len(buf)
    buf += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offs:
        buf += b"%010d 00000 n \n" % off
    buf += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF" % (
        len(objs) + 1,
        xref,
    )
    return bytes(buf)


def test_differences_encoding():
    content = b"BT /F1 12 Tf 72 700 Td (a\x01b) Tj ET"
    pdf = _minimal_pdf(
        content,
        "/Encoding << /BaseEncoding /WinAnsiEncoding /Differences [1 /emdash] >>",
    )
    assert extract_pdf_text(pdf) == "a—b"


def test_word_spacing_via_tw():
    # Tw applies to byte 32 in simple fonts; also exercises " operator
    content = b'BT /F1 12 Tf 12 TL 72 700 Td 20 0 (A B) " ET'
    assert extract_pdf_text(_minimal_pdf(content)) == "A B"


def test_tj_small_kern_no_space():
    content = b"BT /F1 12 Tf 72 700 Td [(Ker) -20 (ning)] TJ ET"
    assert extract_pdf_text(_minimal_pdf(content)) == "Kerning"


def test_separate_bt_blocks_same_line_gap_space():
    content = (
        b"BT /F1 12 Tf 72 700 Td (left) Tj ET\n"
        b"BT /F1 12 Tf 200 700 Td (right) Tj ET"
    )
    assert extract_pdf_text(_minimal_pdf(content)) == "left right"


def test_cm_scaling_affects_position():
    # body scaled 2x via cm — lines at text-space y 300/280 land at 600/560
    content = (
        b"q 2 0 0 2 0 0 cm BT /F1 10 Tf 36 350 Td (top) Tj ET Q\n"
        b"BT /F1 10 Tf 72 300 Td (bottom) Tj ET"
    )
    assert extract_pdf_text(_minimal_pdf(content)) == "top\nbottom"


def test_q_restore_resets_ctm():
    content = (
        b"q 0.5 0 0 0.5 0 0 cm Q\n"
        b"BT /F1 10 Tf 72 700 Td (unscaled) Tj ET"
    )
    assert extract_pdf_text(_minimal_pdf(content)) == "unscaled"


def test_inline_image_skipped():
    content = (
        b"BT /F1 12 Tf 72 700 Td (before) Tj ET\n"
        b"BI /W 2 /H 2 /CS /G /BPC 8 ID \x00\x01EI garbage EI\n"
        b"BT /F1 12 Tf 72 680 Td (after) Tj ET"
    )
    text = extract_pdf_text(_minimal_pdf(content))
    assert "before" in text and "after" in text


def test_tm_matrix_positions_hand_computed():
    """Spec math, independent of the writer: Tm sets the text matrix
    directly; device y decides line order, device x decides in-line
    order.  y: 700 > 690−ε ⇒ three distinct baselines at 700, 500, 300."""
    content = (
        b"BT /F1 12 Tf 1 0 0 1 300 500 Tm (mid) Tj ET "
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (top) Tj ET "
        b"BT /F1 12 Tf 1 0 0 1 72 300 Tm (low) Tj ET"
    )
    assert extract_pdf_text(_minimal_pdf(content)) == "top\nmid\nlow"


def test_glyph_advance_hand_computed():
    """Advance formula (ISO 32000-1 §9.4.4): tx = (w/1000·Tfs + Tc)·Th.
    With no /Widths the extractor uses w=500: 4 glyphs at Tfs=10 advance
    4·5 = 20pt.  A second Td-positioned run starting at exactly
    72+20+1.9 = 93.9 leaves a 1.9pt gap > 0.18·10 ⇒ space; at 72+20.5
    the 0.5pt gap < 1.8 ⇒ glued."""
    spaced = (
        b"BT /F1 10 Tf 72 700 Td (abcd) Tj ET "
        b"BT /F1 10 Tf 93.9 700 Td (efgh) Tj ET"
    )
    assert extract_pdf_text(_minimal_pdf(spaced)) == "abcd efgh"
    glued = (
        b"BT /F1 10 Tf 72 700 Td (abcd) Tj ET "
        b"BT /F1 10 Tf 92.5 700 Td (efgh) Tj ET"
    )
    assert extract_pdf_text(_minimal_pdf(glued)) == "abcdefgh"


def test_char_spacing_tc_extends_advance():
    """Tc adds per-glyph: 4 glyphs · (5 + 1.5) = 26pt — a follow-up run
    at 98+1.9 must still be the same line with a space, proving Tc fed
    the advance (without Tc the gap would read as 6+1.9pt)."""
    content = (
        b"BT /F1 10 Tf 1.5 Tc 72 700 Td (abcd) Tj ET "
        b"BT /F1 10 Tf 0 Tc 99.9 700 Td (efgh) Tj ET"
    )
    assert extract_pdf_text(_minimal_pdf(content)) == "abcd efgh"


def test_horizontal_scaling_tz_halves_advance():
    """Tz 50 halves Th: 4 glyphs at Tfs=10 advance 10pt, so a run at
    x=82.5 (gap 0.5pt) glues; without the Tz it would overlap-merge at
    the same x anyway — so ALSO check the converse: at Tz 100 a run at
    x=92.5 glues but at Tz 50 the same x leaves a 10.5pt gap ⇒ space."""
    content = (
        b"BT /F1 10 Tf 50 Tz 72 700 Td (abcd) Tj ET "
        b"BT /F1 10 Tf 100 Tz 92.5 700 Td (efgh) Tj ET"
    )
    assert extract_pdf_text(_minimal_pdf(content)) == "abcd efgh"


def test_garbage_content_stream_no_crash():
    content = b"\x00\xff BT (open ( paren ET ] >> [[[ 1 2 3 zzz"
    extract_pdf_text(_minimal_pdf(content))  # must not raise


def test_content_stream_loop_bomb_terminates():
    # a million T* ops: interpreter must finish (step cap) quickly
    content = b"BT /F1 2 Tf 72 700 Td 1 TL " + b"T* " * 100_000 + b"ET"
    extract_pdf_text(_minimal_pdf(content))


# ---------------------------------------------------------------------------
# Hypothesis fuzz: robustness + determinism
# ---------------------------------------------------------------------------


def test_pdf_link_annotations_round_trip():
    """Every page links to the doc url; page 0 adds the next-doc edge —
    extraction preserves page order and annotation order."""
    r = extract_pdf_ex(build_pdf(3, "short body", "srcA"))
    assert r["links"] == [
        (0, 0, "https://www.srcA.example.com/pdf/3"),
        (0, 1, "https://www.srcA.example.com/pdf/4"),
    ]
    assert r["title"] == "Doc 3: srcA corpus"
    assert r["author"] == "The srcA journal"


def test_pdf_links_hostile_annots():
    """Scalar /Annots, annots without /A, and non-URI actions are skipped
    without error."""
    from rust_html2text_spark.engine.pdfparse import parse_pdf
    from rust_html2text_spark.engine.pdftext import pdf_links_from_doc

    content = b"BT /F1 10 Tf 72 700 Td (x) Tj ET"
    pdf = _minimal_pdf(content)
    # splice hostile /Annots into the page dict
    broken = pdf.replace(
        b"/Contents 4 0 R",
        b"/Contents 4 0 R /Annots << /NotA /List >>",
    )
    doc = parse_pdf(broken)
    assert pdf_links_from_doc(doc, doc.pages()) == []
    broken2 = pdf.replace(
        b"/Contents 4 0 R",
        b"/Contents 4 0 R /Annots [ << /Subtype /Link >> "
        b"<< /Subtype /Link /A << /S /GoTo >> >> 42 ]",
    )
    doc2 = parse_pdf(broken2)
    assert pdf_links_from_doc(doc2, doc2.pages()) == []


def test_spark_pdf_links_matches_engine(spark):
    from rust_html2text_spark.engine.pdfparse import parse_pdf
    from rust_html2text_spark.engine.pdftext import pdf_links_from_doc
    from rust_html2text_spark.operators.pdf import extract_pdf_links
    from rust_html2text_spark.sources.corpus import load_documents
    from rust_html2text_spark.sources.pdfcorpus import pdf_pages_from_documents

    pages = pdf_pages_from_documents(load_documents(spark, SF_DIR)).limit(30)
    inputs = {r["url"]: bytes(r["pdf"]) for r in pages.collect()}
    got: dict = {}
    for r in extract_pdf_links(pages).collect():
        got.setdefault(r["url"], []).append((r["page"], r["ordinal"], r["uri"]))
    for url, pdf in inputs.items():
        doc = parse_pdf(pdf)
        want = pdf_links_from_doc(doc, doc.pages())
        assert sorted(got.get(url, [])) == sorted(want), url


def test_corrupt_structural_integers_are_pdferror():
    """Structure-fuzz regressions: an /ObjStm whose /N resolves to a Name
    and a /Kids that is a scalar must surface as PdfError (or be
    skipped), never ValueError/TypeError."""
    from rust_html2text_spark.engine.pdfparse import PdfError as PE

    pdf = build_pdf(1, "fuzz regression body", "srcQ")  # xref-stream flavour
    broken = pdf.replace(b"/N ", b"/N /FlateDecode %", 1)
    try:
        extract_pdf_ex(broken)
    except PE:
        pass

    pdf2 = build_pdf(0, "kids regression", "srcQ")
    broken2 = re.sub(rb"/Kids \[[^\]]*\]", b"/Kids 7", pdf2)
    try:
        extract_pdf_ex(broken2)
    except PE:
        pass


def test_fuzz_mutated_pdfs_never_crash():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = build_pdf(3, "fuzz body content, words words", "srcM")

    @settings(max_examples=150, deadline=None)
    @given(
        pos=st.integers(0, len(base) - 1),
        val=st.integers(0, 255),
        pos2=st.integers(0, len(base) - 1),
        val2=st.integers(0, 255),
    )
    def run(pos, val, pos2, val2):
        mutated = bytearray(base)
        mutated[pos] = val
        mutated[pos2] = val2
        mutated = bytes(mutated)
        try:
            a = extract_pdf_ex(mutated)
        except PdfError:
            return
        b = extract_pdf_ex(mutated)
        assert a == b  # deterministic

    run()


def test_fuzz_random_bytes_never_crash():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=100, deadline=None)
    @given(blob=st.binary(min_size=0, max_size=2000))
    def run(blob):
        data = b"%PDF-1.4\n" + blob
        try:
            extract_pdf_ex(data)
        except PdfError:
            pass

    run()


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------


def test_spark_pdf_extract_matches_engine(spark):
    from rust_html2text_spark.operators.pdf import extract_pdf_pages
    from rust_html2text_spark.sources.corpus import load_documents
    from rust_html2text_spark.sources.pdfcorpus import pdf_pages_from_documents

    pages = pdf_pages_from_documents(load_documents(spark, SF_DIR)).limit(60)
    inputs = {r["url"]: bytes(r["pdf"]) for r in pages.collect()}
    got = {r["url"]: r for r in extract_pdf_pages(pages).collect()}
    assert set(got) == set(inputs)
    for url, pdf in inputs.items():
        want = extract_pdf_ex(pdf)
        assert got[url]["text"] == want["text"], url
        assert got[url]["n_pages"] == want["n_pages"]
        assert got[url]["error"] is None


def test_pdf_scan_pruned_to_url_pdf(spark, tmp_path):
    """Column pruning must reach the parquet scan: extracting from a wide
    PDF pages table may read ONLY url+pdf (PDF payloads dominate row
    size; dragging text/lang/warc_ts through the scan too multiplies
    bytes at crawl scale)."""
    from rust_html2text_spark.operators.pdf import extract_pdf_pages
    from rust_html2text_spark.sources.corpus import load_documents
    from rust_html2text_spark.sources.pdfcorpus import pdf_pages_from_documents

    p = str(tmp_path / "pdfpages")
    pdf_pages_from_documents(load_documents(spark, SF_DIR)).limit(
        40
    ).write.parquet(p)
    df = extract_pdf_pages(spark.read.parquet(p))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan  # one payload scan
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, "no parquet scan in plan"
    for line in scans:
        schema = line.split("ReadSchema:", 1)[1]
        assert "url" in schema and "pdf" in schema
        for unwanted in ("text", "lang", "warc_ts"):
            assert unwanted not in schema, line


def test_mixed_routing_matches_engines(spark):
    """extract_mixed_pages routes by magic bytes and each lane reproduces
    its engine: PDFs (even with leading junk) through pdftext, everything
    else through the renderer; NULL payloads become html-lane NullInput
    rows."""
    from rust_html2text_spark.engine.api import html_to_text
    from rust_html2text_spark.operators.pdf import extract_mixed_pages

    pdf = build_pdf(7, "routed pdf body, with commas", "srcR")
    rows = [
        ("h1", b"<p>plain html body</p>"),
        ("p1", pdf),
        ("p2", b"junk preamble " + pdf),  # magic not at offset 0
        ("h2", b"%PDF is mentioned in this html but beyond... " + b"x" * 1100 + b"<p>late</p>"),
        ("n1", None),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: r for r in extract_mixed_pages(df, width=80).collect()}
    assert got["h1"]["kind"] == "html" and got["h1"]["text"] == html_to_text(
        rows[0][1], 80
    )
    assert got["p1"]["kind"] == "pdf" and "routed pdf body" in got["p1"]["text"]
    assert got["p2"]["kind"] == "pdf" and "routed pdf body" in got["p2"]["text"]
    # %PDF- outside the 1024-byte sniff window → html lane (matches the
    # engine, which would also reject it)
    assert got["h2"]["kind"] == "html" and "late" in got["h2"]["text"]
    assert got["n1"]["kind"] == "html" and got["n1"]["error"] == "NullInput"
    assert len(got) == 5


def test_mixed_routing_single_scan(spark, tmp_path):
    """The mixed router must read the payload column ONCE: per-row
    Python dispatch, not two filtered branches (the sniff predicate
    cannot push to parquet, so a branched plan would scan the 100 TB
    table twice)."""
    from rust_html2text_spark.operators.pdf import extract_mixed_pages
    from rust_html2text_spark.sources.corpus import load_documents
    from rust_html2text_spark.sources.pdfcorpus import mixed_pages_from_documents

    p = str(tmp_path / "mixed")
    mixed_pages_from_documents(load_documents(spark, SF_DIR)).limit(
        40
    ).write.parquet(p)
    df = extract_mixed_pages(spark.read.parquet(p), width=80)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("ArrowEvalPython") == 0  # mapInPandas, no scalar UDFs
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    for line in scans:
        schema = line.split("ReadSchema:", 1)[1]
        assert "url" in schema and "html" in schema
        for unwanted in ("text", "lang", "warc_ts"):
            assert unwanted not in schema, line


def test_mixed_extract_from_warc_archive(spark, tmp_path):
    """End-to-end crawl shape: a WARC archive whose records are a mix of
    HTML and PDF payloads (with the content-type header LYING — it says
    text/html for all, as crawls do) → read_warc_pages →
    extract_mixed_pages, each payload matching its engine."""
    from datetime import datetime

    from rust_html2text_spark.engine.api import html_to_text
    from rust_html2text_spark.operators.pdf import extract_mixed_pages
    from rust_html2text_spark.sources.warc import read_warc_pages, write_warc_file

    pdf_a = build_pdf(11, "warc pdf one, body text", "srcW")
    pdf_b = build_pdf(12, "warc pdf two, other text", "srcW")
    records = [
        ("https://w.example/h1", datetime(2026, 1, 1), b"<p>html one</p>"),
        ("https://w.example/p1", datetime(2026, 1, 2), pdf_a),
        ("https://w.example/h2", datetime(2026, 1, 3), b"<ul><li>two</li></ul>"),
        ("https://w.example/p2", datetime(2026, 1, 4), pdf_b),
    ]
    path = str(tmp_path / "mixed.warc.gz")
    assert write_warc_file(path, records) == 4
    pages = read_warc_pages(spark, path)
    got = {r["url"]: r for r in extract_mixed_pages(pages, width=80).collect()}
    assert got["https://w.example/h1"]["kind"] == "html"
    assert got["https://w.example/h1"]["text"] == html_to_text(b"<p>html one</p>", 80)
    assert got["https://w.example/p1"]["kind"] == "pdf"
    assert got["https://w.example/p1"]["text"] == extract_pdf_text(pdf_a)
    assert got["https://w.example/p2"]["text"] == extract_pdf_text(pdf_b)
    assert all(r["error"] is None for r in got.values())


def test_streaming_pdf_matches_batch(spark, tmp_path):
    """--stream --mode pdf: the checkpointed streaming query reproduces
    the batch operator row-for-row (shared batch fn)."""
    from rust_html2text_spark.operators.pdf import extract_pdf_pages
    from rust_html2text_spark.sources.corpus import load_documents
    from rust_html2text_spark.sources.pdfcorpus import pdf_pages_from_documents
    from rust_html2text_spark.streaming.pipeline import (
        start_extraction_stream,
        stream_pages,
    )

    pages = pdf_pages_from_documents(load_documents(spark, SF_DIR)).limit(30)
    inp = str(tmp_path / "in")
    pages.write.parquet(inp)
    q = start_extraction_stream(
        stream_pages(spark, inp),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        mode="pdf",
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["url"]: r["text"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    want = {
        r["url"]: r["text"]
        for r in extract_pdf_pages(spark.read.parquet(inp)).collect()
    }
    assert got == want and len(got) == 30


def test_sink_resume_with_pdf_operator(spark, tmp_path):
    """CLI --mode pdf path: run_with_resume drives extract_pdf_pages with
    pdf_bytes as the lineage input-size column."""
    from rust_html2text_spark.operators.pdf import extract_pdf_pages
    from rust_html2text_spark.sources.corpus import load_documents
    from rust_html2text_spark.sources.pdfcorpus import pdf_pages_from_documents
    from rust_html2text_spark.sources.sink import run_with_resume

    pages = pdf_pages_from_documents(load_documents(spark, SF_DIR)).limit(30).cache()
    out = str(tmp_path / "out")
    s1 = run_with_resume(
        pages,
        out,
        num_buckets=2,
        operator=extract_pdf_pages,
        bytes_col="pdf_bytes",
    )
    assert s1["buckets_skipped"] == 0 and s1["rows"] == 30
    import json as _json

    man = _json.loads((tmp_path / "out/_manifest/0.json").read_text())
    assert man["html_bytes"] > 0  # manifest input-bytes fed from pdf_bytes
    got = spark.read.parquet(f"{out}/bucket=*")
    assert got.count() == 30 and "n_pages" in got.columns
    assert got.filter("error is not null").count() == 0


def test_spark_pdf_error_rows_not_task_failures(spark):
    from rust_html2text_spark.operators.pdf import extract_pdf_pages

    ok = build_pdf(1, "valid pdf body", "srcS")
    df = spark.createDataFrame(
        [("u1", None), ("u2", b"not a pdf at all"), ("u3", ok), ("u4", ok[:40])],
        "url string, pdf binary",
    )
    rows = {r["url"]: r for r in extract_pdf_pages(df).collect()}
    assert rows["u1"]["error"] == "NullInput"
    assert rows["u2"]["error"] is not None
    assert rows["u3"]["error"] is None and "valid pdf body" in rows["u3"]["text"]
    assert rows["u4"]["error"] is not None


# ---------------------------------------------------------------------------
# Round-5 hardening: decompression budgets, Form XObjects, link caps
# ---------------------------------------------------------------------------


def _classic_pdf(objects: dict[int, bytes]) -> bytes:
    """Assemble a classic-xref PDF from raw object bodies (test helper)."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for n in sorted(objects):
        offsets[n] = len(out)
        out += b"%d 0 obj\n" % n + objects[n] + b"\nendobj\n"
    xref_at = len(out)
    maxn = max(objects)
    out += b"xref\n0 %d\n" % (maxn + 1)
    out += b"0000000000 65535 f \n"
    for n in range(1, maxn + 1):
        out += b"%010d 00000 n \n" % offsets.get(n, 0)
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (maxn + 1, xref_at)
    )
    return bytes(out)


def _stream_obj(extra: bytes, data: bytes) -> bytes:
    return (
        b"<< " + extra + b" /Length %d >>\nstream\n" % len(data)
        + data
        + b"\nendstream"
    )


def test_flate_bomb_is_pdf_error_not_oom(monkeypatch):
    from rust_html2text_spark.engine import pdfparse

    monkeypatch.setattr(pdfparse, "_MAX_DECODED_BYTES", 1 << 16)
    bomb = zlib.compress(b"\0" * (1 << 22))  # 4 MiB from ~4 KiB
    s = FakeStream({"Filter": Name("FlateDecode")}, bomb)
    with pytest.raises(PdfError, match="budget"):
        decode_stream(s)


def test_run_length_bomb_is_pdf_error(monkeypatch):
    from rust_html2text_spark.engine import pdfparse

    monkeypatch.setattr(pdfparse, "_MAX_DECODED_BYTES", 1 << 10)
    bomb = b"\x81A" * 5000  # each pair expands to 128 bytes
    s = FakeStream({"Filter": Name("RunLengthDecode")}, bomb)
    with pytest.raises(PdfError, match="budget"):
        decode_stream(s)


def test_lzw_bomb_is_pdf_error(monkeypatch):
    from rust_html2text_spark.engine import pdfparse

    monkeypatch.setattr(pdfparse, "_MAX_DECODED_BYTES", 1 << 10)
    data = b"ABCD" * 2000
    s = FakeStream({"Filter": Name("LZWDecode")}, _lzw_encode(data))
    with pytest.raises(PdfError, match="budget"):
        decode_stream(s)


def test_truncated_flate_still_tolerated():
    # the lenient path (garbage-trailed / truncated crawl streams) must
    # survive the budget refactor
    comp = zlib.compress(b"hello world payload")
    s = FakeStream({"Filter": Name("FlateDecode")}, comp + b"GARBAGE")
    assert decode_stream(s) == b"hello world payload"


_FONT = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"


def test_form_xobject_text_extracted():
    """Text painted via /Subtype /Form XObjects (stamps, headers) must
    appear in the extraction, with the form /Matrix composed onto the CTM
    and graphics state restored afterwards (ISO 32000-1 8.10)."""
    page_content = (
        b"BT /F1 12 Tf 72 700 Td (page text) Tj ET "
        b"q /Fm1 Do Q "
        b"BT /F1 12 Tf 72 600 Td (after form) Tj ET"
    )
    form_content = b"BT /F1 12 Tf 0 0 Td (stamp text) Tj ET"
    pdf = _classic_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 6 0 R >> "
            b"/XObject << /Fm1 5 0 R >> >> /Contents 4 0 R >>"
        ),
        4: _stream_obj(b"", page_content),
        5: _stream_obj(
            b"/Type /XObject /Subtype /Form /BBox [0 0 200 50] "
            b"/Matrix [1 0 0 1 72 650] "
            b"/Resources << /Font << /F1 6 0 R >> >>",
            form_content,
        ),
        6: _FONT,
    })
    text = extract_pdf_text(pdf)
    assert "page text" in text
    assert "stamp text" in text
    assert "after form" in text
    # /Matrix placed the stamp between the two page lines
    lines = [ln for ln in text.splitlines() if ln.strip()]
    assert lines.index("page text") < lines.index("stamp text") < lines.index(
        "after form"
    )


def test_form_xobject_inherits_parent_resources():
    # form without /Resources: fonts resolve against the page's dict
    pdf = _classic_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 6 0 R >> "
            b"/XObject << /Fm1 5 0 R >> >> /Contents 4 0 R >>"
        ),
        4: _stream_obj(b"", b"q /Fm1 Do Q"),
        5: _stream_obj(
            b"/Type /XObject /Subtype /Form /BBox [0 0 200 50]",
            b"BT /F1 12 Tf 10 10 Td (inherited) Tj ET",
        ),
        6: _FONT,
    })
    assert "inherited" in extract_pdf_text(pdf)


def test_self_referential_form_xobject_terminates():
    # form whose stream invokes itself: the active-set guard must stop it
    pdf = _classic_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 6 0 R >> "
            b"/XObject << /Fm1 5 0 R >> >> /Contents 4 0 R >>"
        ),
        4: _stream_obj(b"", b"/Fm1 Do"),
        5: _stream_obj(
            b"/Type /XObject /Subtype /Form /BBox [0 0 9 9] "
            b"/Resources << /Font << /F1 6 0 R >> "
            b"/XObject << /Fm1 5 0 R >> >>",
            b"BT /F1 12 Tf 0 0 Td (once) Tj ET /Fm1 Do",
        ),
        6: _FONT,
    })
    text = extract_pdf_text(pdf)
    assert text.count("once") == 1


def test_image_xobject_do_is_noop():
    pdf = _classic_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 6 0 R >> "
            b"/XObject << /Im1 5 0 R >> >> /Contents 4 0 R >>"
        ),
        4: _stream_obj(b"", b"BT /F1 12 Tf 72 700 Td (visible) Tj ET /Im1 Do"),
        5: _stream_obj(
            b"/Type /XObject /Subtype /Image /Width 1 /Height 1 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8",
            b"\xff",
        ),
        6: _FONT,
    })
    assert "visible" in extract_pdf_text(pdf)


def test_pdf_links_total_cap(monkeypatch):
    from rust_html2text_spark.engine import pdftext
    from rust_html2text_spark.engine.pdftext import pdf_links_from_doc

    monkeypatch.setattr(pdftext, "_MAX_LINKS_PER_DOC", 25)

    class FakeDoc:
        def resolve(self, x):
            return x

    annot = {
        "Subtype": Name("Link"),
        "A": {"S": Name("URI"), "URI": b"https://example.com/x"},
    }
    pages = [{"Annots": [annot] * 10} for _ in range(10)]
    links = pdf_links_from_doc(FakeDoc(), pages)
    assert 25 <= len(links) < 100  # stops at the first page boundary past cap


# ---------------------------------------------------------------------------
# Round-5: standard security handler (empty-user-password decryption)
# ---------------------------------------------------------------------------


def test_encrypted_lanes_decrypt_to_identical_text():
    """RC4-40/R2, RC4-128/R3 and AES-128/R4 empty-user-password documents
    must extract byte-identically to what the same content yields
    unencrypted (strings AND streams, classic and xref-stream emitters)."""
    body = "crypto lane body, with commas, and enough words to wrap. " * 20
    # doc_ids chosen per lane; parity flips the emitter (odd = xref stream)
    lanes = {
        4: "rc4-128-classic",
        13: "rc4-128-xref",
        7: "aes-xref",
        16: "rc4-40-classic",
        25: "aes-xref2",
        34: "rc4-40-classic2",
    }
    for did, label in lanes.items():
        enc_pdf = build_pdf(did, body, "srcE")
        assert b"/Encrypt" in enc_pdf, label
        got = extract_pdf_ex(enc_pdf)
        assert "crypto lane body" in got["text"], label
        assert got["title"] == f"Doc {did}: srcE corpus", label
        assert got["author"] == "The srcE journal", label
        assert got["n_pages"] >= 1
        # link annotations (encrypted strings in annot dicts) decrypt too
        doc = parse_pdf(enc_pdf)
        from rust_html2text_spark.engine.pdftext import pdf_links_from_doc

        links = pdf_links_from_doc(doc, doc.pages())
        assert any(u.endswith(f"/pdf/{did}") for _, _, u in links), label


def test_encrypted_text_matches_unencrypted_build():
    """Decryption is lossless: an encrypted doc's extraction equals a
    plain doc's for the same body, modulo the doc-id-bearing chrome
    lines (doc 13 = RC4-128 xref-stream lane, doc 31 = plain with the
    same emitter parity)."""
    body = "byte identity under encryption, with commas. " * 25
    t_enc = extract_pdf_ex(build_pdf(13, body, "srcI"))["text"]
    t_plain = extract_pdf_ex(build_pdf(31, body, "srcI"))["text"]

    def body_lines(t, did):
        return [ln for ln in t.splitlines() if str(did) not in ln and ln.strip()]

    assert body_lines(t_enc, 13) == body_lines(t_plain, 31)


def test_wrong_password_still_errors():
    pdf = build_pdf(3, "secret content here", "srcW", user_pw=b"hunter2")
    with pytest.raises(PdfError, match="password required"):
        parse_pdf(pdf)
    # and through the robust extractor wrapper it is an error, not a crash
    with pytest.raises(PdfError):
        extract_pdf_ex(pdf)


def test_tampered_u_entry_is_password_required():
    pdf = build_pdf(4, "tamper check body", "srcT")
    doc = parse_pdf(pdf)  # sanity: valid as built
    assert "tamper" in extract_pdf_ex(pdf)["text"]
    # flip bytes inside the /U hex string
    import re as _re

    m = _re.search(rb"/U <([0-9A-F]+)>", pdf)
    assert m
    u = bytearray.fromhex(m.group(1).decode())
    u[0] ^= 0xFF
    tampered = pdf[: m.start(1)] + u.hex().upper().encode() + pdf[m.end(1) :]
    with pytest.raises(PdfError, match="password required"):
        parse_pdf(tampered)


def test_unsupported_revision_errors():
    pdf = build_pdf(4, "r7 check", "srcR")
    broken = pdf.replace(b"/R 3", b"/R 7").replace(b"/V 2", b"/V 6")
    with pytest.raises(PdfError, match="unsupported"):
        parse_pdf(broken)
    # declaring /V 5 /R 6 over an R3-shaped dict (32-byte /O /U, no /UE)
    # is hostile, not merely unsupported — still a clean PdfError
    broken2 = pdf.replace(b"/R 3", b"/R 6").replace(b"/V 2", b"/V 5")
    with pytest.raises(PdfError, match="encrypted"):
        parse_pdf(broken2)


def test_encrypted_with_broken_xref_rejected_not_garbled():
    """Brute-scan recovery parses objects without decryption context, so
    an encrypted document with a destroyed xref must error cleanly."""
    pdf = build_pdf(4, "broken xref body", "srcB")
    broken = pdf.replace(b"startxref", b"startxrf_")
    with pytest.raises(PdfError, match="encrypted"):
        parse_pdf(broken)


def test_spark_pdf_operator_handles_encrypted_lanes(spark):
    """The Spark operator extracts the encrypted lanes like any other row
    (no error rows, text present) — oracle-parity comes from the goldens."""
    from rust_html2text_spark.operators.pdf import extract_pdf_pages
    from rust_html2text_spark.sources.corpus import load_documents
    from rust_html2text_spark.sources.pdfcorpus import pdf_pages_from_documents

    docs = load_documents(spark, SF_DIR).filter(
        "doc_id % 9 = 4 or doc_id % 18 in (7, 11, 16)"
    ).limit(12)
    out = extract_pdf_pages(pdf_pages_from_documents(docs)).collect()
    assert len(out) > 0
    for r in out:
        assert r["error"] is None, (r["url"], r["error"])
        assert r["text"]


def test_hostile_encrypt_dict_shapes_stay_pdferror():
    """Hostile /Encrypt values (Name where a number belongs, non-dict
    /CF, bool /V, undefined named filter) must raise PdfError, never
    TypeError/ValueError — the operator contract maps PdfError to an
    error row."""
    from rust_html2text_spark.engine.pdfcrypt import StandardSecurityHandler

    base = {
        "Filter": Name("Standard"),
        "V": 2,
        "R": 3,
        "O": b"x" * 32,
        "U": b"y" * 32,
        "P": -1,
    }
    hostile = [
        {**base, "V": Name("x")},
        {**base, "R": [1, 2]},
        {**base, "O": 5},
        {**base, "P": Name("p")},
        {**base, "Length": Name("L")},
        {**base, "V": True},
        {**base, "V": 4, "R": 4, "CF": 7, "StmF": Name("StdCF")},
        {**base, "V": 4, "R": 4, "CF": {"StdCF": 9}, "StmF": Name("StdCF")},
        {**base, "V": 4, "R": 4, "CF": {}, "StmF": Name("NoSuch")},
    ]
    for enc in hostile:
        with pytest.raises(PdfError):
            StandardSecurityHandler(enc, b"id")


def test_aes_fips197_known_answers():
    """The generalized key schedule must reproduce the FIPS-197 appendix
    vectors for both key sizes (C.1 AES-128, C.3 AES-256), scalar and
    numpy paths."""
    from rust_html2text_spark.engine.pdfcrypt import (
        _decrypt_block,
        _ecb_decrypt_np,
        _encrypt_block,
        _expand_key,
    )

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    rk = _expand_key(bytes(range(16)))
    ct = _encrypt_block(pt, rk)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert _decrypt_block(ct, rk) == pt
    rk = _expand_key(bytes(range(32)))
    ct = _encrypt_block(pt, rk)
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
    assert _decrypt_block(ct, rk) == pt
    assert _ecb_decrypt_np(ct * 5, rk) == pt * 5


def test_evp_and_pure_python_aes_agree():
    """When the platform libcrypto is loadable, AES-CBC runs through
    OpenSSL EVP; the from-scratch FIPS-197 cipher is the reference and
    fallback.  Both paths must produce identical bytes for every entry
    point (raw no-pad CBC both ways, PDF payload encrypt/decrypt, and
    the 2.B hash built on them)."""
    import random

    import rust_html2text_spark.engine.pdfcrypt as pc

    if pc._EVP is None:
        pytest.skip("libcrypto not loadable on this platform")
    evp = pc._EVP
    rng = random.Random(20260817)
    try:
        for trial in range(24):
            key = bytes(
                rng.randrange(256) for _ in range(16 if trial % 2 else 32)
            )
            iv = bytes(rng.randrange(256) for _ in range(16))
            data = bytes(
                rng.randrange(256) for _ in range(16 * rng.randint(1, 6))
            )
            loose = data[: rng.randrange(1, len(data))]  # unaligned for cbc+pad
            pc._EVP = None
            pure = (
                pc._cbc_encrypt_nopad(key, iv, data),
                pc._cbc_decrypt_nopad(key, iv, data),
                pc.aes_cbc_encrypt(key, iv, loose),
            )
            pure_rt = pc.aes_cbc_decrypt(key, pure[2])
            pc._EVP = evp
            fast = (
                pc._cbc_encrypt_nopad(key, iv, data),
                pc._cbc_decrypt_nopad(key, iv, data),
                pc.aes_cbc_encrypt(key, iv, loose),
            )
            fast_rt = pc.aes_cbc_decrypt(key, fast[2])
            assert pure == fast and pure_rt == fast_rt == loose, trial
        pc._EVP = None
        slow_hash = pc._hash_2b(b"pw", b"saltsalt", b"u" * 48)
        pc._EVP = evp
        assert pc._hash_2b(b"pw", b"saltsalt", b"u" * 48) == slow_hash
    finally:
        pc._EVP = evp


def test_aes256_lanes_decrypt_to_identical_text():
    """AES-256 empty-user-password lanes (/R 6 via Algorithm 2.B at
    doc_id%360==11, /R 5 SHA-256 on the rest of the %18==11 lane) must
    extract like any plain document — text, metadata, and encrypted
    link annotations."""
    body = "aes256 lane body, with commas, and enough words to wrap. " * 20
    for did, label in ((11, "r6"), (29, "r5")):
        enc_pdf = build_pdf(did, body, "srcV")
        assert b"/Encrypt" in enc_pdf and b"/AESV3" in enc_pdf, label
        got = extract_pdf_ex(enc_pdf)
        assert "aes256 lane body" in got["text"], label
        assert got["title"] == f"Doc {did}: srcV corpus", label
        assert got["author"] == "The srcV journal", label
        doc = parse_pdf(enc_pdf)
        from rust_html2text_spark.engine.pdftext import pdf_links_from_doc

        links = pdf_links_from_doc(doc, doc.pages())
        assert any(u.endswith(f"/pdf/{did}") for _, _, u in links), label


def test_aes256_wrong_password_and_owner_fallback():
    """R5/R6: a real user password errors; an empty OWNER password
    (user password set, owner empty) still opens via Algorithm 12."""
    import hashlib as _hl

    from rust_html2text_spark.engine.pdfcrypt import (
        StandardSecurityHandler,
        WriterCrypt,
    )

    id0 = _hl.md5(b"aes256-test").digest()
    for r in (5, 6):
        wc = WriterCrypt(id0, user_pw=b"realpw", owner_pw=b"own",
                         r=r, cfm="AESV3")
        with pytest.raises(PdfError, match="password required"):
            StandardSecurityHandler(wc.encrypt_dict(), id0)
        wc2 = WriterCrypt(id0, user_pw=b"userpw", owner_pw=b"",
                          r=r, cfm="AESV3")
        h = StandardSecurityHandler(wc2.encrypt_dict(), id0)
        assert h.key == wc2.key, f"r{r} owner-path key"
        # tampered /U: neither password validates
        bad = dict(wc2.encrypt_dict())
        bad["U"] = bytes([bad["U"][0] ^ 0xFF]) + bad["U"][1:]
        with pytest.raises(PdfError, match="password required"):
            StandardSecurityHandler(bad, id0)


def test_hostile_v5_encrypt_shapes_stay_pdferror():
    from rust_html2text_spark.engine.pdfcrypt import (
        StandardSecurityHandler,
        WriterCrypt,
    )

    wc = WriterCrypt(b"id0-hostile!!!!!", r=6, cfm="AESV3")
    good = wc.encrypt_dict()
    hostile = [
        {**good, "O": b"short"},
        {**good, "U": b"short"},
        {**good, "O": 7},
        {**good, "UE": None},
        {**good, "UE": b"tiny"},
        {**good, "CF": {"StdCF": {"CFM": Name("AESV2")}}},  # not legal in V5
        {**good, "StmF": Name("NoSuch")},
        {**good, "R": 9},
    ]
    for enc in hostile:
        with pytest.raises(PdfError):
            StandardSecurityHandler(enc, b"id0-hostile!!!!!")


def test_strf_distinct_from_stmf_honoured():
    """/V 4 documents may name DIFFERENT crypt filters for strings and
    streams: strings Identity + streams AESV2 must leave strings
    untouched while streams decrypt (previously the stream cipher was
    applied to both, garbling string metadata)."""
    import hashlib as _hl

    from rust_html2text_spark.engine.pdfcrypt import (
        StandardSecurityHandler,
        WriterCrypt,
    )

    id0 = _hl.md5(b"strf-test").digest()
    wc = WriterCrypt(id0, r=4, cfm="AESV2")
    enc = dict(wc.encrypt_dict())
    enc["StrF"] = Name("Identity")
    h = StandardSecurityHandler(enc, id0)
    stream_ct = wc.encrypt(b"stream payload bytes", 12)
    assert h.decrypt(stream_ct, 12, 0) == b"stream payload bytes"
    # strings pass through untouched (they were never encrypted)
    assert h.decrypt(b"plain string", 12, 0, string=True) == b"plain string"
    # and the reverse split: strings encrypted, streams Identity
    enc2 = dict(wc.encrypt_dict())
    enc2["StmF"] = Name("Identity")
    h2 = StandardSecurityHandler(enc2, id0)
    str_ct = wc.encrypt(b"string payload", 3)
    assert h2.decrypt(str_ct, 3, 0, string=True) == b"string payload"
    assert h2.decrypt(b"raw stream", 3, 0) == b"raw stream"


def test_partial_decrypt_failure_keeps_original_object():
    """If decryption raises partway through an object (bad payload on a
    later sibling), the ORIGINAL object must be returned untouched —
    never a half-decrypted hybrid with mutated Stream nodes."""
    from rust_html2text_spark.engine.pdfparse import PdfDocument, Stream

    doc = object.__new__(PdfDocument)

    class FlakyDec:
        def __init__(self):
            self.calls = 0

        def decrypt(self, data, num, gen, string=False):
            self.calls += 1
            if self.calls > 1:
                raise PdfError("bad payload")
            return b"DECRYPTED"

    doc._decryptor = FlakyDec()
    st = Stream({"Length": 3}, b"RAW")
    obj = {"S": st, "B": b"later-sibling"}
    out = doc._decrypt_object(obj, 5, 0)
    assert out is obj
    assert st.raw == b"RAW"  # the in-tree Stream was not mutated
    assert obj["B"] == b"later-sibling"


def test_encrypted_pdf_mutation_fuzz():
    """Byte-mutate encrypted PDFs: every outcome is either a successful
    parse or PdfError — no other exception escapes, and no outcome
    changes between two runs (determinism)."""
    import random

    body = "mutation fuzz body with enough words to wrap a few lines. " * 8
    rng = random.Random(20260817)
    corpus = [build_pdf(did, body, "srcF") for did in (4, 7, 13, 16, 25)]
    for trial in range(300):
        pdf = bytearray(corpus[trial % len(corpus)])
        for _ in range(rng.randint(1, 8)):
            pos = rng.randrange(len(pdf))
            pdf[pos] = rng.randrange(256)
        data = bytes(pdf)

        def run():
            try:
                return ("ok", extract_pdf_ex(data)["text"])
            except PdfError as e:
                return ("err", str(e))

        a = run()
        assert a == run(), f"nondeterministic at trial {trial}"
