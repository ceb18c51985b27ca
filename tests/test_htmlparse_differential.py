"""Differential test: the fast single-pass tokenizer must build the exact
same DOM as the stdlib HTMLParser driver over randomized tag soup."""

from __future__ import annotations

import collections
import random
from types import SimpleNamespace

from rust_html2text_spark.engine.htmlparse import parse_html


def dump(node):
    if node.kind == "text":
        return ("text", node.text)
    if node.kind == "comment":
        return ("comment", node.text)
    return (
        node.kind,
        node.name,
        tuple(sorted(node.attrs.items())),
        tuple(dump(c) for c in node.children),
    )


PIECES = [
    "<p>", "</p>", "<div class='a b'>", "</div>", "<a href=\"x&amp;y\">",
    "</a>", "<br>", "<br/>", "<img src=u alt='A &lt;B'>", "text & more ",
    "&amp; &lt; &#65; &#x41; &nbsp; &unknown; &unknown ", "<table><tr><td>",
    "</td></tr></table>", "<ul><li>item", "</ul>", "<!-- comment -->",
    "<!-- unterminated", "<!DOCTYPE html>", "<?pi data?>", "<![CDATA[x]]>",
    "<script>if (a<b && c>d) {}</script>", "<style>p>a { }</style>",
    "<em a=1 b = '2' c>", "</em>", "< notatag", "<>", "</>", "<3",
    "plain text", "<span title='q\"r'>", "</span>", "<h1>", "</h2>",
    "<input type=text value=>", "<b", "<foo bar", "tail",
    "<svg><title>t</title></svg>", "<pre>  sp  </pre>",
    # attributes: unquoted, single-quoted, valueless, duplicate, upper-case
    "<p id=a>", "<p class='x y'>", "<input disabled>", "<input disabled checked>",
    '<a href="1" href="2">', "<DIV CLASS=\"U\">", "<P Title=Mixed>",
    "<td colspan=2 rowspan='3'>", "<span data-x = 'v' id =q>", "<a href=/x/y>",
    "<img src=x/>", "<a b=c/ >", "<p a==b>", "<p a=\"x\"b='y'>", "<p a=x'y>",
    "<p\xa0id=n>", "<p id=\x0bq>", "<x-y z>", "<a\x0bb>", "<p a/b>",
    "<p id=a>b>c", "<i t='>'>", '<b t=">">', "a>b",
    # '&' in attribute values
    '<a href="?a=1&amp;b=2&c">', "<img alt='&lt;&gt;'>", "<a title=x&amp;y>",
    # '/>' and whitespace before '>'
    "<br />", "<span />", "<p  >", '<a href="x" />', "<div\n>", "<p / >",
    "<em\t>", "<svg/>",
    # end tags
    "</ p>", "</p >", "</P>", "</br>", "</body>", "</html>", "</td>",
    "</tr>", "</li>", "</x-y>",
    # EOF inside a tag (an unterminated piece swallows what follows)
    '<a href="unterminated', "<div class='q", "<p id=", "</p",
    # every CDATA (raw-text / RCDATA) element
    "<script>x<p>y</script>", "<style>s{}</style>",
    "<title>a &amp; <b></title>", "<textarea>t &lt; <i></textarea>",
    "<xmp><p>raw</p></xmp>", "<iframe>f</iframe>", "<noembed>n</noembed>",
    "<noframes>n</noframes>", "<script>never closed",
    # tree-builder fast paths: cells, rows, list siblings, p-closers
    "<tr>", "<td>", "<th>", "<li>", "<dd>", "<dt>", "<ol>", "<dl>",
    "<blockquote>", "<h3>", "<table>", "<tbody>", "<caption>",
]


class _CountingToken:
    """Stands in for htmlparse._TOKEN: counts the regex steps by the token
    they take (their lastindex), the positions they leave to the tolerant
    path, and the text tokens stored without a handle_data call (the
    scanner's next step comes right after a text token is handled)."""

    def __init__(self, pattern, counts):
        self.pattern = pattern
        self.counts = counts

    def scanner(self, string, pos):
        step = self.pattern.scanner(string, pos).match
        counts = self.counts
        text_pending = None

        def match():
            nonlocal text_pending
            if text_pending is not None and counts["handle_data"] == text_pending:
                counts["text_inline"] += 1
            m = step()
            counts["fallback" if m is None else m.lastindex] += 1
            text_pending = counts["handle_data"] if m is not None and m.lastindex == 1 else None
            return m

        return SimpleNamespace(match=match)


def _count_fast_paths(monkeypatch, counts):
    """Count into `counts` each fast path that parse_html(fast=True)
    takes: the regex steps by token, the tree builder's in-body start
    and end paths (True) and their fallbacks (False), and text stored
    in the regex step."""
    from rust_html2text_spark.engine import htmlparse

    monkeypatch.setattr(htmlparse, "_TOKEN", _CountingToken(htmlparse._TOKEN, counts))
    builder = htmlparse.TreeBuilder
    for method in ("start_in_body", "end_in_body", "handle_data"):
        orig = getattr(builder, method)

        def counted(self, *args, _orig=orig, _name=method):
            out = _orig(self, *args)
            counts[_name if _name == "handle_data" else (_name, out)] += 1
            return out

        monkeypatch.setattr(builder, method, counted)


def test_fast_tokenizer_differential(monkeypatch):
    rng = random.Random(99)
    counts = collections.Counter()
    _count_fast_paths(monkeypatch, counts)
    for trial in range(1500):
        html = "".join(rng.choice(PIECES) for _ in range(rng.randint(1, 25)))
        fast = dump(parse_html(html, fast=True))
        slow = dump(parse_html(html, fast=False))
        assert fast == slow, html
    # every fast path was taken, and so was every fallback
    for key in (1, 4, 5, 6, "fallback", "text_inline",
                ("start_in_body", True), ("start_in_body", False),
                ("end_in_body", True), ("end_in_body", False)):
        assert counts[key] > 0, key


def test_fast_tokenizer_eof_inside_a_tag():
    """Unterminated constructs at the very end of the input."""
    for tail in ('<a href="x', "<div class='q", "<p id=", "<p id", "<p ",
                 "<p", "</p", "</", "<!--", "<!-- x -", "<![CDATA[x",
                 "<!DOCTYPE", "<?pi", "<a href=x/", "<p a=b /"):
        for head in ("", "text ", "<p>para", "<table><tr><td>cell",
                     "<title>t", "<script>s"):
            html = head + tail
            assert dump(parse_html(html, fast=True)) == dump(
                parse_html(html, fast=False)
            ), html


def test_fast_tokenizer_fixture_corpus():
    import json
    from pathlib import Path

    fixtures = json.loads(
        (Path(__file__).parent / "fixtures/goldens.json").read_text()
    )["fixtures"]
    for f in fixtures:
        html = f["html"]
        assert dump(parse_html(html, fast=True)) == dump(
            parse_html(html, fast=False)
        ), f["name"]
