"""Golden tests: every fixture extracted from the reference's own test corpus
(/root/reference/src/tests.rs) must render byte-identically."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from rust_html2text_spark.engine.api import (
    Config,
    html_to_coloured,
    html_to_text,
    plain_config,
)
from rust_html2text_spark.engine.errors import TooNarrow

FIXTURES = json.loads(
    (Path(__file__).parent / "fixtures/goldens.json").read_text()
)["fixtures"]

SKIP = set()


def build_config(fixture: dict) -> Config:
    conf = fixture.get("config", {})
    decorator = conf.get("decorator")
    if decorator is None:
        config = plain_config()
    elif decorator == "trivial":
        config = Config(decorator="trivial")
    elif decorator == "rich":
        config = Config(decorator="rich")
    else:
        config = plain_config()
    for key in (
        "max_wrap_width",
        "min_wrap_width",
        "pad_block_width",
        "allow_width_overflow",
        "raw",
        "draw_borders",
        "fence_tables",
        "wrap_links",
        "link_footnotes",
        "unicode_strikeout",
        "use_doc_css",
        "image_mode",
        "image_replace",
        "do_decorate",
    ):
        if key in conf:
            setattr(config, key, conf[key])
    if conf.get("raw"):
        config.draw_borders = False
    if "add_css" in conf:
        config.add_css = list(conf["add_css"])
    if "add_agent_css" in conf:
        config.add_agent_css = list(conf["add_agent_css"])
    return config


def colour_map(tags, s: str) -> str:
    """The reference test colour map (tests.rs:65-127)."""
    fg = ("", "")
    bg = ("", "")
    for ann in tags:
        if ann[0] == "Colour":
            c = ann[1]
            fg = {
                (0xFF, 0, 0): ("<R>", "</R>"),
                (0xFF, 0xFF, 0xFF): ("<W>", "</W>"),
                (0, 0xFF, 0): ("<G>", "</G>"),
                (0, 0, 0xFF): ("<B>", "</B>"),
            }.get(c, ("<?>", "</?>"))
        elif ann[0] == "BgColour":
            c = ann[1]
            bg = {
                (0xFF, 0, 0): ("<r>", "</r>"),
                (0, 0xFF, 0): ("<g>", "</g>"),
            }.get(c, ("<.>", "</.>"))
    return f"{bg[0]}{fg[0]}{s}{fg[1]}{bg[1]}"


@pytest.mark.parametrize("fixture", FIXTURES, ids=[f["name"] for f in FIXTURES])
def test_golden(fixture):
    if fixture["name"] in SKIP:
        pytest.skip("not implemented")
    config = build_config(fixture)
    if "xml" in fixture.get("config", {}):
        config.xml = fixture["config"]["xml"]
    html = fixture["html"].encode("utf-8")
    width = fixture["width"]
    if "expected_error" in fixture:
        assert fixture["expected_error"] == "TooNarrow"
        with pytest.raises(TooNarrow):
            html_to_text(html, width, config)
        return
    if fixture.get("config", {}).get("colour_map"):
        result = html_to_coloured(html, width, colour_map, config)
    else:
        result = html_to_text(html, width, config)
    assert result == fixture["expected"]


def test_deeply_nested():
    """tests.rs:1608-1614 — 1000 unknown elements must not crash."""
    html = "<foo>" * 1000
    assert html_to_text(html.encode(), 10) == ""


def test_deeply_nested_table():
    """tests.rs:1617-1645 — 1000 nested tables."""
    rpt = 1000
    html = "<table><tr><td>hi</td><td>" * rpt + "</td></tr></table>" * rpt
    expected = (
        "──────────\nhi\n//////////\n" * (rpt - 3)
        + "──┬──┬───\nhi│hi│hi \n──┴──┴───\n"
        + "──────────\n" * (rpt - 3)
    )
    assert html_to_text(html.encode(), 10) == expected


DEEP = 5000
# 5,000-deep chains of the elements each phase treats specially: a block
# (div), a list item under a sub-renderer per level (ul/li), a prefixed
# block (blockquote), a link (the parser un-nests <a>, so the chain comes
# out flat) and an inline style.  Digests of the html_to_text output at
# 95e1296 (a chain of prefixed levels runs out of width: TooNarrow).
# extract_main raised RecursionError there on every chain but <a>; it
# now renders the same text as html_to_text.
DEEP_CHAINS = {
    "div": ("<div>x" * DEEP + "</div>" * DEEP, "3438e635c8a2ecd3e9a2ac4e4d8e4db6"),
    "ul_li": ("<ul><li>x" * DEEP + "</li></ul>" * DEEP, TooNarrow),
    "blockquote": ("<blockquote>x" * DEEP + "</blockquote>" * DEEP, TooNarrow),
    "a_href": ('<a href="#l">x' * DEEP + "</a>" * DEEP, "f84e4b40646d5cf60914154bf52dff82"),
    "em": ("<em>x" * DEEP + "</em>" * DEEP, "7a5782019106b551fc5ccf1e25626a03"),
}


@pytest.mark.parametrize("shape", sorted(DEEP_CHAINS))
def test_deep_chain_at_default_recursion_limit(shape):
    """Every phase walks on an explicit stack: a 5,000-deep chain renders
    (or fails with a RenderError) under the default recursion limit, in
    html_to_text and in extract_main."""
    import hashlib
    import sys

    from rust_html2text_spark.engine.extract import extract_main

    html, expected = DEEP_CHAINS[shape]
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(1000)  # CPython's default; the full suite runs at 3,000
    try:
        for render in (html_to_text, extract_main):
            if expected is TooNarrow:
                with pytest.raises(TooNarrow):
                    render(html.encode(), 80)
            else:
                text = render(html.encode(), 80)
                assert hashlib.md5(text.encode()).hexdigest() == expected, render
    finally:
        sys.setrecursionlimit(limit)
