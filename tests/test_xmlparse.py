"""xml5ever-fidelity tests for the XML parse path (engine/xmlparse.py).

Pins the observable differences from the HTML tree builder that the
reference gets from xml5ever (/root/reference/src/lib.rs:3025-3033):
case-sensitive names, xmlns namespace resolution, no tree-builder magic,
XML-only entities, CDATA.  test_xml1 itself is covered by the golden
corpus; these cover the recovery/namespace space around it.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from rust_html2text_spark.engine.api import html_to_text  # noqa: E402

XHTML = "http://www.w3.org/1999/xhtml"


def xml(body: str) -> bytes:
    return f'<?xml version="1.0"?>{body}'.encode("utf-8")


def test_xhtml_namespace_gets_html_semantics():
    doc = xml(
        f'<html xmlns="{XHTML}"><body><h1>Head</h1><p>para</p></body></html>'
    )
    assert html_to_text(doc, 20) == "# Head\n\npara\n"


def test_case_sensitive_names_do_not_match_html():
    # <P> != <p> in XML: renders as an unknown container (inline), exactly
    # like xml5ever + expanded_name!(html "p") case-sensitive matching
    doc = xml(f'<html xmlns="{XHTML}"><body><P>one</P><P>two</P></body></html>')
    assert html_to_text(doc, 20) == "onetwo\n"


def test_no_namespace_is_all_containers():
    doc = xml("<doc><p>alpha</p><h1>beta</h1></doc>")
    assert html_to_text(doc, 20) == "alphabeta\n"


def test_prefixed_xhtml_namespace():
    doc = xml(
        f'<x:html xmlns:x="{XHTML}"><x:body><x:p>para</x:p></x:body></x:html>'
    )
    assert html_to_text(doc, 20) == "para\n"


def test_self_closing_closes_and_no_void_magic():
    # <h1/> is empty (no heading output); <p/> likewise
    doc = xml(f'<html xmlns="{XHTML}"><body><h1/><p>Not Heading</p></body></html>')
    assert html_to_text(doc, 20) == "Not Heading\n"


def test_cdata_and_xml_entities():
    doc = xml("<d><![CDATA[a < b & c]]> &amp; &lt; &#65; &#x42; &nbsp;</d>")
    # CDATA literal; predefined + numeric refs expand; HTML-only named
    # entities (&nbsp;) recover as literal text
    assert html_to_text(doc, 60) == "a < b & c & < A B &nbsp;\n"


def test_mismatched_end_tag_recovery():
    # </b> pops to the open <b>'s nearest match; stray </i> is ignored
    doc = xml(
        f'<html xmlns="{XHTML}"><body><p>x</i>y</p><p><b>z</p></body></html>'
    )
    out = html_to_text(doc, 20)
    assert "xy" in out and "z" in out


def test_style_not_extracted_outside_xhtml_ns():
    # a no-namespace <style> is an unknown container: its text renders and
    # does NOT become a stylesheet
    doc = xml("<doc><style>p { color: red }</style><p>text</p></doc>")
    out = html_to_text(doc, 40)
    assert "color" in out


def test_attribute_case_and_href():
    # href on an XHTML-ns <a> works; HREF (case-mismatch) does not
    doc = xml(
        f'<html xmlns="{XHTML}"><body>'
        '<p><a href="https://x.example/">l</a></p></body></html>'
    )
    assert "[1]" in html_to_text(doc, 40)
    doc2 = xml(
        f'<html xmlns="{XHTML}"><body>'
        '<p><a HREF="https://x.example/">l</a></p></body></html>'
    )
    assert "[1]" not in html_to_text(doc2, 40)


def test_show_css_dump():
    """--show-css formatter mirrors StyleData Display (css.rs:693-715)."""
    from rust_html2text_spark.engine.api import Config
    from rust_html2text_spark.engine.debug import dump_parsed_style

    html = (
        b"<html><head><style>p.note { color: red }\n"
        b"#m > li:nth-child(2n+1) { display: none !important }</style>"
        b"</head><body><p class='note'>hi</p></body></html>"
    )
    out = dump_parsed_style(html, Config(use_doc_css=True))
    assert "Author rules:" in out
    assert "  p.note {" in out
    assert "    color: #ff0000" in out
    assert "  #m > li:nth-child(2n+1) {" in out
    assert "    display: none !important" in out
    # decorator agent rules appear under Agent rules:
    out2 = dump_parsed_style(b"<p>x</p>", Config(do_decorate=True))
    assert "Agent rules:" in out2 and "em::before" in out2


def test_xmlparse_never_crashes_and_tree_is_sound():
    """Fuzz robustness: arbitrary byte soup must parse into a well-formed
    tree (recovering parser contract), with parents set and no cycles."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from rust_html2text_spark.engine.xmlparse import parse_xml

    fragments = st.sampled_from(
        ["<a>", "</a>", "<a/>", "<A>", "</A>", "<a b='c'>", "<a b=\"c\"/>",
         "text", "&amp;", "&#65;", "&bogus;", "<!--", "-->", "<![CDATA[x]]>",
         "<![CDATA[", "<?pi?>", "<!DOCTYPE x>", "<", ">", "=", "'", '"',
         "<x:y xmlns:x='urn:z'>", "</x:y>", "\n", " ", "<a b", "<a b=",
         "\x00", "é", "🎈"]
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(fragments, max_size=30))
    def run(parts):
        doc = parse_xml("".join(parts))
        stack = [(doc, 0)]
        seen = set()
        while stack:
            node, depth = stack.pop()
            assert id(node) not in seen, "cycle"
            seen.add(id(node))
            assert depth < 200
            for c in node.children:
                assert c.parent is node
                stack.append((c, depth + 1))

    run()


def test_unquoted_attr_value_trailing_slash_self_closes():
    """'<a b=c/>' — the '/' is the self-closing marker, not part of the
    unquoted value (xml5ever recovery): following text must be a SIBLING
    of <a>, not its child."""
    from rust_html2text_spark.engine.xmlparse import parse_xml

    dom = parse_xml("<r><a b=c/>tail</r>")
    r = dom.children[0]
    assert [c.kind for c in r.children] == ["element", "text"]
    a = r.children[0]
    assert a.attrs.get("b") == "c"
    assert not a.children
    assert r.children[1].text == "tail"
