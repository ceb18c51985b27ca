"""Property-based tests (hypothesis): wrap fast-path equivalence and parser
robustness over adversarial inputs."""

from __future__ import annotations

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st

from rust_html2text_spark.engine.api import html_to_text
from rust_html2text_spark.engine.errors import RenderError
from rust_html2text_spark.engine.htmlparse import parse_html
from rust_html2text_spark.engine.wrapped import WS_NORMAL

from tests.test_wrap_differential import reference_add_text_normal, render_with

# text including tricky chars: NBSP, ZWSP, wide CJK, combining, controls
_tricky = st.text(
    alphabet=st.sampled_from(
        list("abc XY.,!-") + ["\xa0", "\u200b", "好", "é", "̶", "\t", "\n", "—", "\r", "\x0b", "💡", "ﬁ", "\xad", "가", "　"]
    ),
    max_size=40,
)


def _wrap_outcome(fn, pieces, width):
    """Result lines, or the TooNarrow outcome (an unsplittable wide char at
    width 1 legitimately raises) — both paths must agree on either."""
    from rust_html2text_spark.engine.errors import TooNarrow

    try:
        return ("ok", render_with(fn, pieces, width))
    except TooNarrow:
        return ("too_narrow",)


@settings(max_examples=250, deadline=None)
@given(st.lists(st.tuples(_tricky, st.sampled_from(["t", "u"])), max_size=6),
       st.integers(min_value=1, max_value=30))
def test_wrap_fast_path_equivalence(pieces, width):
    fast = _wrap_outcome(
        lambda b, t, tg: b.add_text(t, WS_NORMAL, tg, tg), pieces, width
    )
    slow = _wrap_outcome(reference_add_text_normal, pieces, width)
    assert fast == slow


# cell/paragraph text: controls, zero-width, combining, wide and NBSP chars
_layout_text = st.text(
    alphabet=st.sampled_from(
        list("ab xy-") + ["\xa0", "\u200b", "\u0301", "\u0336", "\xad", "好", "💡",
                          "\u3000", "\x01", "\x7f", "\x85", "\t", "\n", "\r"]
    ),
    max_size=14,
).map(lambda t: t.replace("&", "").replace("<", ""))


@st.composite
def _layout_doc(draw):
    """Blocks that exercise every TaggedLine path: wrapped paragraphs,
    <pre>, prefixed sub-renderers and tables with spans and nesting."""
    parts = []
    for _ in range(draw(st.integers(min_value=1, max_value=4))):
        kind = draw(st.sampled_from(["p", "pre", "h1", "ul", "blockquote", "table"]))
        text = draw(_layout_text)
        if kind == "ul":
            link = draw(_layout_text)
            parts.append(f"<ul><li>{text}</li><li><a href='x'>{link}</a></li></ul>")
        elif kind == "table":
            rows = []
            for _ in range(draw(st.integers(min_value=1, max_value=3))):
                cells = []
                for _ in range(draw(st.integers(min_value=1, max_value=3))):
                    span = draw(st.sampled_from(["", " rowspan=2", " colspan=2"]))
                    inner = draw(_layout_text)
                    if draw(st.booleans()):
                        nested = draw(_layout_text)
                        inner = f"<table><tr><td>{inner}</td><td>{nested}</td></tr></table>"
                    cells.append(f"<td{span}>{inner}</td>")
                rows.append("<tr>" + "".join(cells) + "</tr>")
            parts.append("<table>" + "".join(rows) + "</table>")
        else:
            parts.append(f"<{kind}>{text}</{kind}>")
    return "<html><body>" + "".join(parts) + "</body></html>"


@settings(max_examples=300, deadline=None)
@given(_layout_doc(), st.integers(min_value=1, max_value=40),
       st.sampled_from(["plain", "rich"]), st.booleans())
def test_tagged_line_len_is_its_width(doc, width, config_name, pad):
    """pad_to trusts a line's tracked `len`: it must equal the width of
    the line's strings there, at every consume (both lines) and on every
    emitted line."""
    import dataclasses

    from rust_html2text_spark.engine.api import html_to_lines, plain_config, rich_config
    from rust_html2text_spark.engine.taggedline import TaggedLine

    config = plain_config() if config_name == "plain" else rich_config()
    config = dataclasses.replace(config, pad_block_width=pad)
    pad_to, consume = TaggedLine.pad_to, TaggedLine.consume
    checked = []

    def checked_pad_to(self, w, tag):
        checked.append((self.len, self.width()))
        pad_to(self, w, tag)

    def checked_consume(self, other):
        checked.append((self.len, self.width()))
        checked.append((other.len, other.width()))
        consume(self, other)

    TaggedLine.pad_to, TaggedLine.consume = checked_pad_to, checked_consume
    try:
        lines = html_to_lines(doc.encode("utf-8"), width, config)
    except RenderError:
        return
    finally:
        TaggedLine.pad_to, TaggedLine.consume = pad_to, consume
    checked.extend((line.len, line.width()) for line in lines)
    assert all(tracked == actual for tracked, actual in checked), doc


_soup = st.lists(
    st.sampled_from(
        list("<>/=\"' abcdefp!&;#-[]?") + ["table", "tr", "td", "li", "ul", "pre",
                                           "&amp;", "<!--", "-->", "<![CDATA[",
                                           "]]>", "<![if", "<!doctype"]
    ),
    max_size=60,
).map("".join)


@settings(max_examples=250, deadline=None)
@given(_soup, st.integers(min_value=1, max_value=40))
def test_render_never_crashes(soup, width):
    try:
        out = html_to_text(soup.encode("utf-8"), width)
        assert isinstance(out, str)
    except RenderError:
        pass


@settings(max_examples=250, deadline=None)
@given(_soup)
def test_fast_tokenizer_matches_stdlib(soup):
    def dump(node):
        if node.kind in ("text", "comment"):
            return (node.kind, node.text)
        return (
            node.kind,
            node.name,
            tuple(sorted(node.attrs.items())),
            tuple(dump(c) for c in node.children),
        )

    try:
        expected = dump(parse_html(soup, fast=False))
    except (AssertionError, ValueError):
        # stdlib HTMLParser *raises* on unknown marked-section keywords
        # (AssertionError from _markupbase for '<![ifa'); the fast path
        # recovers html5ever-style instead.  The stdlib is only the oracle
        # here — discard inputs it cannot judge (production always uses
        # fast=True).
        hypothesis.assume(False)
    assert dump(parse_html(soup, fast=True)) == expected


_css_soup = st.lists(
    st.sampled_from(
        list("{}();:#.*>~[]=!'\" abcdef0-,%") + [
            "color", "background-color", "display", "none", "x-raw-dom",
            "white-space", "pre", "!important", "@media", "@import",
            "rgb(", "#fff", "nth-child(", "odd", "even", "2n+1",
            "x-syntax", "/*", "*/", "\\aaaaaa", "\\d800",
        ]
    ),
    max_size=60,
).map("".join)


@settings(max_examples=250, deadline=None)
@given(_css_soup)
def test_css_parser_never_crashes(css):
    """Malformed CSS must be skipped, never raised (reference recovers by
    dropping unparseable constructs)."""
    from rust_html2text_spark.engine.cssparse import add_css

    rules: list = []
    add_css(rules, css, allow_extensions=True)


@settings(max_examples=250, deadline=None)
@given(_css_soup, st.integers(min_value=3, max_value=30))
def test_render_with_doc_css_never_crashes(css, width):
    """A hostile <style> block under --css must never crash a render."""
    from rust_html2text_spark.engine.api import Config

    html = f"<style>{css}</style><p>body text</p>".encode()
    try:
        out = html_to_text(html, width, Config(use_doc_css=True))
        assert isinstance(out, str)
    except RenderError:
        pass


# ---------------------------------------------------------------------------
# Round-5: PDF crypto properties (engine/pdfcrypt.py)
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    st.binary(min_size=1, max_size=16),
    st.binary(min_size=0, max_size=400),
)
def test_rc4_is_an_involution(key, data):
    from rust_html2text_spark.engine.pdfcrypt import rc4

    assert rc4(key, rc4(key, data)) == data


@settings(max_examples=150, deadline=None)
@given(
    st.binary(min_size=16, max_size=16),
    st.binary(min_size=16, max_size=16),
    st.binary(min_size=0, max_size=600),
)
def test_aes_cbc_round_trip(key, iv, data):
    from rust_html2text_spark.engine.pdfcrypt import (
        aes_cbc_decrypt,
        aes_cbc_encrypt,
    )

    enc = aes_cbc_encrypt(key, iv, data)
    assert enc[:16] == iv and len(enc) % 16 == 0
    assert aes_cbc_decrypt(key, enc) == data


@settings(max_examples=60, deadline=None)
@given(
    st.binary(min_size=0, max_size=24),
    st.binary(min_size=16, max_size=16),
    st.sampled_from(
        [
            (2, 40, "RC4"),
            (3, 128, "RC4"),
            (4, 128, "AESV2"),
            (5, 256, "AESV3"),
            (6, 256, "AESV3"),
        ]
    ),
    st.binary(min_size=0, max_size=200),
)
def test_writer_reader_handler_symmetry(owner_pw, id0, lane, payload):
    """Whatever the writer derives (O/U/key per Algorithms 2-5, or the
    ISO 32000-2 U/UE/O/OE set for /R 5-6), the reader verifies the
    empty user password against it and decryption inverts encryption —
    for every revision/cipher lane and arbitrary owner passwords."""
    from rust_html2text_spark.engine.pdfcrypt import (
        StandardSecurityHandler,
        WriterCrypt,
    )
    from rust_html2text_spark.engine.pdfparse import Name

    r, bits, cfm = lane
    w = WriterCrypt(id0, owner_pw=owner_pw, r=r, length_bits=bits, cfm=cfm)
    enc = {
        k: (Name(v) if isinstance(v, str) else v)
        for k, v in w.encrypt_dict().items()
    }
    if "CF" in enc:
        enc["CF"] = {
            "StdCF": {
                k: (Name(v) if isinstance(v, str) else v)
                for k, v in w.encrypt_dict()["CF"]["StdCF"].items()
            }
        }
    h = StandardSecurityHandler(enc, id0)
    assert h.key == w.key
    assert h.decrypt(w.encrypt(payload, 12, 0), 12, 0) == payload
    # a different object's key must not decrypt it (/V 5 excepted: the
    # file key is used directly, per-object keys do not exist there)
    if payload and r < 5:
        from rust_html2text_spark.engine.pdfparse import PdfError

        try:
            wrong = h.decrypt(w.encrypt(payload, 12, 0), 13, 0)
        except PdfError:
            wrong = None  # hostile-padding rejection also counts
        assert wrong != payload


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=600))
def test_decode_html_never_raises_and_is_deterministic(data):
    from rust_html2text_spark.engine.charset import decode_html

    a = decode_html(data)
    assert a == decode_html(data)
    assert isinstance(a[0], str)


@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet="Uusera-gnt:AlowDi/*$%_\\ \t\n#\r日",
        min_size=0,
        max_size=300,
    ),
    st.sampled_from(["*", "spark-graft-bot", "x"]),
)
def test_parse_robots_rules_never_raises(txt, agent):
    from rust_html2text_spark.functions.robots import (
        _pattern_to_like,
        parse_robots_rules,
    )

    rules = parse_robots_rules(txt, agent)
    assert rules == parse_robots_rules(txt, agent)
    for pattern, allow in rules:
        assert allow in (0, 1)
        _pattern_to_like(pattern)  # translation never raises either


@settings(max_examples=200, deadline=None)
@given(
    st.text(
        alphabet="Uusera-gnt:AlowDi/*$%_\\ \t\n#\r日CwdlySmphx.e0123456789",
        min_size=0,
        max_size=300,
    ),
    st.sampled_from(["*", "spark-graft-bot", "x"]),
)
def test_parse_robots_policy_invariants(txt, agent):
    """The full policy parse (rules + Crawl-delay + Sitemap + caps)
    never raises, is deterministic, and its bounds always hold."""
    from rust_html2text_spark.functions.robots import parse_robots

    pol = parse_robots(txt, agent, max_bytes=200, max_rules=5)
    assert pol == parse_robots(txt, agent, max_bytes=200, max_rules=5)
    assert len(pol.rules) <= 5
    assert pol.crawl_delay is None or pol.crawl_delay >= 0
    assert all(isinstance(s, str) and s for s in pol.sitemaps)
    if len(txt) > 200 or len(parse_robots(txt, agent).rules) > 5:
        assert pol.truncated


@settings(max_examples=200, deadline=None)
@given(
    st.text(
        alphabet="<>/urlsetmapindxoc&;#!?=abch:.091- \n\t\"'日",
        min_size=0,
        max_size=400,
    )
)
def test_parse_sitemap_never_raises(txt):
    """Arbitrary text through the sitemap parser: None or a bounded,
    deterministic Sitemap — never an exception."""
    from rust_html2text_spark.functions.sitemap import parse_sitemap

    sm = parse_sitemap(txt, max_urls=7)
    assert sm == parse_sitemap(txt, max_urls=7)
    if sm is not None:
        assert sm.kind in ("urlset", "sitemapindex")
        assert len(sm.entries) <= 7
        for e in sm.entries:
            assert e.loc
            assert e.priority is None or 0.0 <= e.priority <= 1.0
