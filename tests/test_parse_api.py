"""Parse-once / render-many API (Config::parse_html /
dom_to_render_tree / render_to_string / render_to_lines,
lib.rs:3011-3075): one parse, many renders, each byte-identical to the
fused path."""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from rust_html2text_spark.engine.api import (  # noqa: E402
    Config,
    dom_to_tree,
    html_to_lines,
    html_to_text,
    parse,
    render_to_lines,
    render_to_string,
    rich_config,
)

FIXTURES = json.loads(
    (Path(__file__).parent / "fixtures/goldens.json").read_text()
)["fixtures"]


def test_parse_once_render_many_widths():
    html = (
        b"<h1>Title</h1><table><tr><td>one two</td><td>three</td></tr>"
        b"</table><p>a longer paragraph that wraps at narrow widths</p>"
    )
    dom = parse(html)
    for width in (80, 40, 20, 12):
        out = render_to_string(dom_to_tree(dom), width)
        assert out == html_to_text(html, width)


def test_parse_once_many_decorators():
    html = b'<p><em>em</em> <a href="http://x">link</a></p>'
    dom = parse(html)
    for cfg in (None, Config(decorator="trivial"), rich_config()):
        out = render_to_string(dom_to_tree(dom, cfg), 80, cfg)
        assert out == html_to_text(html, 80, cfg)


def test_render_to_lines_matches_fused():
    html = b'<p>some <em>rich</em> <a href="http://x">text</a></p>'
    dom = parse(html)
    got = render_to_lines(dom_to_tree(dom, rich_config()), 40)
    want = html_to_lines(html, 40)
    as_tuples = lambda lines: [
        [(ts.s, ts.tag) for ts in l.tagged_strings()] for l in lines
    ]
    assert as_tuples(got) == as_tuples(want)


def test_split_api_matches_goldens_sample():
    """Every 10th default-config golden through the split API."""
    checked = 0
    for f in FIXTURES[::10]:
        conf = f.get("config", {})
        if conf or "expected_error" in f:
            continue
        dom = parse(f["html"].encode())
        assert render_to_string(dom_to_tree(dom), f["width"]) == f["expected"]
        checked += 1
    assert checked >= 10
