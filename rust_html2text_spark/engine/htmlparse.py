"""HTML5 DOM construction on the stdlib tokenizer.

The reference parses with html5ever's WHATWG tree construction
(/root/reference/src/lib.rs:3011-3023, scripting disabled).  This container
has no html5lib/lxml, so we implement the subset of the WHATWG tree-builder
rules the rendering semantics depend on, over `html.parser.HTMLParser`
(a pure tokenizer):

- implied <html>/<head>/<body>, leading whitespace dropped before content
- void elements; self-closing start tags treated as start tags (HTML mode)
- auto-closing: p-closers, li/dd/dt siblings, <a> nesting
- table modes: implied <tbody>, row/cell auto-close, foster parenting of
  non-whitespace content out of table contexts
- end-tag matching bounded by cell/table/html scopes; </p> synthesizes an
  empty <p>; </br> acts like <br>
"""

from __future__ import annotations

from html.parser import HTMLParser


class DomNode:
    __slots__ = (
        "kind", "name", "attrs", "children", "parent", "text", "extra_styles",
        "ns",
    )

    def __init__(self, kind, name=None, attrs=None, text=None, ns=None):
        self.kind = kind  # document | element | text | comment
        self.name = name
        self.attrs = attrs if attrs is not None else {}
        self.children: list[DomNode] = []
        self.parent: DomNode | None = None
        self.text = text
        self.extra_styles = None  # css_ext syntax-highlight overlays
        # Namespace URI.  None = parsed as HTML (everything lives in the
        # XHTML namespace by construction); the XML parser (xmlparse.py)
        # sets the resolved xmlns URI, and lower.py only dispatches HTML
        # semantics for None / XHTML_NS (xml5ever expanded_name parity).
        self.ns = ns

    def append(self, child: "DomNode") -> None:
        child.parent = self
        self.children.append(child)

    def insert_before(self, child: "DomNode", ref: "DomNode") -> None:
        child.parent = self
        idx = self.children.index(ref)
        self.children.insert(idx, child)

    def __repr__(self):
        if self.kind == "text":
            return f"Text({self.text!r})"
        if self.kind == "element":
            return f"<{self.name} {self.attrs}>x{len(self.children)}"
        return f"{self.kind}"


VOID_ELEMENTS = frozenset(
    "area base basefont bgsound br col embed frame hr img input keygen "
    "link meta param source track wbr".split()
)

HEAD_ELEMENTS = frozenset("base basefont bgsound link meta title style script template".split())

P_CLOSERS = frozenset(
    "address article aside blockquote center details dialog dir div dl "
    "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup "
    "hr li dd dt listing main menu nav ol p plaintext pre section summary "
    "table ul xmp".split()
)

# WHATWG "special" category minus address/div/p — elements that stop the
# li/dd/dt auto-close walk.
_LI_BREAKERS = frozenset(
    "applet area article aside base basefont bgsound blockquote body br "
    "button caption center col colgroup dd details dir dl dt embed "
    "fieldset figcaption figure footer form frame frameset h1 h2 h3 h4 h5 "
    "h6 head header hgroup hr html iframe img input keygen li link listing "
    "main marquee menu meta nav noembed noframes noscript object ol param "
    "plaintext pre script section select source style summary table tbody "
    "td template textarea tfoot th thead title tr track ul wbr xmp".split()
)

TABLE_CTX = frozenset("table tbody thead tfoot tr".split())

_ASCII_WS_STR = " \t\n\r\f"


def _is_ascii_ws(data: str) -> bool:
    """WHATWG 'ASCII whitespace' — NBSP etc. do NOT count (they foster-parent
    out of tables and do start the body)."""
    return not data.strip(_ASCII_WS_STR)
TABLE_SECTIONS = frozenset("tbody thead tfoot".split())

_TABLE_STRUCT_TAGS = frozenset(
    "tbody thead tfoot caption colgroup tr td th col".split()
)

# Scope boundaries for generic end-tag matching.
_END_SCOPE_BOUNDARY = frozenset("td th table caption html".split())

_P_SCOPE_BOUNDARY = frozenset(
    "html body table td th caption button object template marquee applet svg".split()
)


# Start tags that `TreeBuilder.start_in_body` leaves to the full
# `start_tag`: html/head/body, <table> and the table-structure tags (but
# a cell in a row and a row in a table section), the formatting element
# <a> and <image>, which is renamed.
_SPECIAL_START = frozenset(
    ("html", "head", "body", "table", "a", "image")
) | (_TABLE_STRUCT_TAGS - {"td", "th", "tr"})

# Current nodes under which text takes handle_data's own rules: foster
# parenting in a table context, charref decoding in RCDATA
_TEXT_RULES = TABLE_CTX | frozenset(("title", "textarea"))

# the open element a cell or row start tag needs to go in directly
_ROW_PARENTS = {"td": ("tr",), "th": ("tr",), "tr": TABLE_SECTIONS}
# li/dd/dt: the open siblings each one closes (`_close_li_like`)
_SIBLINGS = {"li": ("li",), "dd": ("dd", "dt"), "dt": ("dd", "dt")}

# End tags with a rule other than "pop the matching element"
_OWN_END_RULE = frozenset(("br", "body", "html")) | VOID_ELEMENTS


# WHATWG raw-text + RCDATA elements: contents are text, never markup
# (html5ever tokenizer states; RCDATA additionally decodes charrefs,
# handled in TreeBuilder.handle_data).
CDATA_CONTENT_ELEMENTS = (
    "script", "style", "title", "textarea", "xmp", "iframe",
    "noembed", "noframes",
)


class TreeBuilder:
    """The tree-construction rules, fed tokens by `_fast_feed` or, for
    differential testing, by html.parser (`_StdlibTokenizer`)."""

    def __init__(self, xml_mode: bool = False):
        self.xml_mode = xml_mode
        self.doc = DomNode("document")
        self.stack: list[DomNode] = [self.doc]
        self.html_node: DomNode | None = None
        self.head_node: DomNode | None = None
        self.body_node: DomNode | None = None
        self.body_started = False

    # -- structure helpers -----------------------------------------------

    def current(self) -> DomNode:
        return self.stack[-1]

    def _ensure_html(self) -> None:
        if self.html_node is None:
            self.html_node = DomNode("element", "html")
            self.doc.append(self.html_node)
        if self.html_node not in self.stack:
            self.stack = [self.doc, self.html_node]

    def _ensure_head(self) -> None:
        self._ensure_html()
        if self.head_node is None:
            self.head_node = DomNode("element", "head")
            self.html_node.append(self.head_node)

    def _ensure_body(self) -> None:
        if self.body_started:
            # body/html are never popped once entered (end-tag scopes stop
            # at html; table pops stay above body), so the expensive
            # "html_node in stack" scan below is settled — skip it
            return
        self._ensure_html()
        self._ensure_head()
        if self.body_node is None:
            self.body_node = DomNode("element", "body")
            self.html_node.append(self.body_node)
        if not self.body_started:
            self.body_started = True
            # drop back to <html> level, then enter body
            while len(self.stack) > 1 and self.stack[-1] is not self.html_node:
                self.stack.pop()
            self.stack.append(self.body_node)

    def _pop_through(self, node: DomNode) -> None:
        while self.stack:
            top = self.stack.pop()
            if top is node:
                break

    def _find_in_scope(self, name: str, boundaries) -> DomNode | None:
        for node in reversed(self.stack):
            if node.kind != "element":
                return None
            if node.name == name:
                return node
            if node.name in boundaries:
                return None
        return None

    def _close_p_if_open(self) -> None:
        p = self._find_in_scope("p", _P_SCOPE_BOUNDARY)
        if p is not None:
            self._pop_through(p)

    def _close_li_like(self, names: tuple[str, ...]) -> None:
        for node in reversed(self.stack):
            if node.kind != "element":
                return
            if node.name in names:
                self._pop_through(node)
                return
            if node.name in _LI_BREAKERS:
                return

    def _nearest_table(self) -> DomNode | None:
        for node in reversed(self.stack):
            if node.kind == "element" and node.name == "table":
                return node
        return None

    def _in_foster_context(self) -> bool:
        cur = self.current()
        return cur.kind == "element" and cur.name in TABLE_CTX

    def _foster_insert(self, node: DomNode) -> None:
        """Insert before the nearest table (WHATWG foster parenting)."""
        table = self._nearest_table()
        if table is not None and table.parent is not None:
            table.parent.insert_before(node, table)
        else:
            self.current().append(node)

    def _insert_node(self, node: DomNode, foster_ok: bool = True) -> None:
        if foster_ok and self._in_foster_context():
            self._foster_insert(node)
        else:
            self.current().append(node)

    def _in_svg(self) -> bool:
        return any(n.kind == "element" and n.name == "svg" for n in self.stack)

    # -- tokenizer callbacks ------------------------------------------------

    def handle_starttag(self, tag, attrs):
        attr_dict: dict[str, str] = {}
        for k, v in attrs:
            if k not in attr_dict:
                attr_dict[k] = v if v is not None else ""
        self.start_tag(tag, attr_dict)

    def start_in_body(self, tag: str, attr_dict: dict) -> bool:
        """`start_tag` in fewer steps for the common case once the body is
        open: a <td>/<th> in an open <tr>, a <tr> in an open table
        section, or a tag with no table or formatting rule (not in
        `_SPECIAL_START`).  The last closes an open <p> if it is a
        p-closer and an open li/dd/dt sibling if it is one, then goes in
        at the current node (foster-parented in a table context).
        Returns False, doing nothing, for any other tag or position."""
        if not self.body_started or tag in _SPECIAL_START:
            return False
        stack = self.stack
        cur = stack[-1]
        row_parents = _ROW_PARENTS.get(tag)
        if row_parents is not None:
            if cur.name not in row_parents:
                return False
        else:
            if tag in P_CLOSERS:
                self._close_p_if_open()
                siblings = _SIBLINGS.get(tag)
                if siblings is not None:
                    self._close_li_like(siblings)
                cur = stack[-1]
            if cur.name in TABLE_CTX:
                node = DomNode("element", tag, attr_dict)
                self._foster_insert(node)
                if tag not in VOID_ELEMENTS:
                    stack.append(node)
                return True
        node = DomNode("element", tag, attr_dict)
        node.parent = cur
        cur.children.append(node)
        if tag not in VOID_ELEMENTS:
            stack.append(node)
        return True

    def end_in_body(self, tag: str) -> bool:
        """`handle_endtag` when the tag closes the current node: pop it.
        Returns False, doing nothing, when the current node is another
        element or the tag has an end rule of its own (</br>, </body>,
        </html>, void tags)."""
        stack = self.stack
        if stack[-1].name != tag or tag in _OWN_END_RULE:
            return False
        stack.pop()
        return True

    def start_tag(self, tag: str, attr_dict: dict) -> None:
        if tag == "html":
            self._ensure_html()
            for k, v in attr_dict.items():
                self.html_node.attrs.setdefault(k, v)
            return
        if tag == "head":
            self._ensure_head()
            if not self.body_started and self.head_node not in self.stack:
                self.stack.append(self.head_node)
            return
        if tag == "body":
            self._ensure_body()
            for k, v in attr_dict.items():
                self.body_node.attrs.setdefault(k, v)
            return

        if not self.body_started and tag in HEAD_ELEMENTS:
            self._ensure_head()
            node = DomNode("element", tag, attr_dict)
            self.head_node.append(node)
            if tag not in VOID_ELEMENTS:
                self.stack.append(node)
            return

        self._ensure_body()

        # table-structure tags
        if tag in _TABLE_STRUCT_TAGS:
            table = self._nearest_table()
            if table is None:
                return  # ignored outside a table (WHATWG "in body")
            tpos = self.stack.index(table)
            if tag in ("tbody", "thead", "tfoot", "caption", "colgroup"):
                del self.stack[tpos + 1 :]
                node = DomNode("element", tag, attr_dict)
                table.append(node)
                self.stack.append(node)
                return
            if tag == "col":
                cur = self.current()
                if cur.kind != "element" or cur.name != "colgroup":
                    del self.stack[tpos + 1 :]
                    cg = DomNode("element", "colgroup")
                    table.append(cg)
                    self.stack.append(cg)
                node = DomNode("element", "col", attr_dict)
                self.current().append(node)
                return
            if tag == "tr":
                # close any open cell/row: pop to a section or the table
                while self.stack[-1] is not table and (
                    self.stack[-1].name not in TABLE_SECTIONS
                ):
                    self.stack.pop()
                if self.stack[-1] is table:
                    tb = DomNode("element", "tbody")
                    table.append(tb)
                    self.stack.append(tb)
                node = DomNode("element", "tr", attr_dict)
                self.current().append(node)
                self.stack.append(node)
                return
            # td / th
            while self.stack[-1] is not table and self.stack[-1].name not in (
                "tr",
                *TABLE_SECTIONS,
            ):
                self.stack.pop()
            if self.stack[-1].name != "tr":
                if self.stack[-1] is table:
                    tb = DomNode("element", "tbody")
                    table.append(tb)
                    self.stack.append(tb)
                tr = DomNode("element", "tr")
                self.current().append(tr)
                self.stack.append(tr)
            node = DomNode("element", tag, attr_dict)
            self.current().append(node)
            self.stack.append(node)
            return

        if tag == "table" and self._in_foster_context():
            # <table> directly inside an open table: close the open table
            table = self._nearest_table()
            self._pop_through(table)

        if tag in P_CLOSERS:
            self._close_p_if_open()
        if tag == "li":
            self._close_li_like(("li",))
        elif tag in ("dd", "dt"):
            self._close_li_like(("dd", "dt"))
        elif tag == "a":
            open_a = self._find_in_scope("a", _P_SCOPE_BOUNDARY)
            if open_a is not None:
                self._pop_through(open_a)
        elif tag == "image":
            tag = "img"

        node = DomNode("element", tag, attr_dict)
        self._insert_node(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        # HTML mode: self-closing flag is ignored on non-void HTML elements
        # (they stay open); in foreign (svg) content and in XML mode it
        # closes the element (XmlMode::Auto sniff, lib.rs:2983-2995).
        if self.xml_mode:
            self.handle_starttag(tag, attrs)
            if tag not in VOID_ELEMENTS:
                if self.stack and self.stack[-1].kind == "element" and self.stack[-1].name == tag:
                    self.stack.pop()
            return
        if self._in_svg() or tag == "svg":
            in_svg_before = self._in_svg()
            self.handle_starttag(tag, attrs)
            if tag not in VOID_ELEMENTS and (in_svg_before or tag == "svg"):
                if self.stack and self.stack[-1].kind == "element" and self.stack[-1].name == tag:
                    self.stack.pop()
        else:
            self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if tag == "br":
            self.handle_starttag("br", [])
            return
        if tag in ("body", "html"):
            return
        if tag in VOID_ELEMENTS:
            return
        boundaries = _END_SCOPE_BOUNDARY - {tag}
        target = self._find_in_scope(tag, boundaries)
        if target is None:
            if tag == "p":
                # WHATWG: </p> with no open <p> inserts an empty <p>
                self._ensure_body()
                self._insert_node(DomNode("element", "p"))
            return
        self._pop_through(target)

    _RCDATA = frozenset(("title", "textarea"))

    def handle_data(self, data):
        if not data:
            return
        cur = self.stack[-1]
        if (
            cur.kind == "element"
            and cur.name in self._RCDATA
            and "&" in data
        ):
            # RCDATA: raw-text tokenization but charrefs still decode
            from html import unescape

            data = unescape(data)
        if not self.body_started:
            if _is_ascii_ws(data):
                if self.head_node is not None and self.head_node in self.stack:
                    self._append_text(self.head_node, data)
                return
            # non-whitespace: check if we're inside a head raw-text element
            cur = self.current()
            if cur.kind == "element" and cur.name in ("title", "style", "script", "template"):
                self._append_text(cur, data)
                return
            self._ensure_body()
        cur = self.stack[-1]
        if cur.name in TABLE_CTX:
            if _is_ascii_ws(data):
                self._append_text(cur, data)
            else:
                table = self._nearest_table()
                text = DomNode("text", text=data)
                if table is not None and table.parent is not None:
                    # merge with preceding text node if adjacent
                    parent = table.parent
                    idx = parent.children.index(table)
                    if idx > 0 and parent.children[idx - 1].kind == "text":
                        parent.children[idx - 1].text += data
                    else:
                        parent.insert_before(text, table)
                else:
                    self._append_text(cur, data)
            return
        children = cur.children
        if children and children[-1].kind == "text":
            children[-1].text += data
        else:
            node = DomNode("text", text=data)
            node.parent = cur
            children.append(node)

    @staticmethod
    def _append_text(parent: DomNode, data: str) -> None:
        if parent.children and parent.children[-1].kind == "text":
            parent.children[-1].text += data
        else:
            node = DomNode("text", text=data)
            parent.append(node)

    def handle_comment(self, data):
        node = DomNode("comment", text=data)
        if self.stack[-1] is self.doc:
            self.doc.append(node)
        else:
            self.current().append(node)


class _StdlibTokenizer(HTMLParser):
    """html.parser's tokenizer feeding a TreeBuilder: the reference that
    `_fast_feed` is differential-tested against (parse_html(fast=False)).
    Declarations and processing instructions are dropped, as by the
    HTMLParser defaults."""

    CDATA_CONTENT_ELEMENTS = CDATA_CONTENT_ELEMENTS

    def __init__(self, builder: TreeBuilder):
        super().__init__(convert_charrefs=True)
        self.handle_starttag = builder.handle_starttag
        self.handle_startendtag = builder.handle_startendtag
        self.handle_endtag = builder.handle_endtag
        self.handle_data = builder.handle_data
        self.handle_comment = builder.handle_comment


# --- fast single-pass tokenizer ------------------------------------------
#
# Behaviour-identical to html.parser.HTMLParser with convert_charrefs=True
# fed the whole document at once (we reuse its tolerant regexes), minus the
# incremental-feed bookkeeping (updatepos line tracking, buffer re-slicing)
# that dominates its cost.  Differential-tested against HTMLParser in
# tests/test_htmlparse_differential.py.

import re as _re

from html import unescape as _unescape
from html.parser import (
    attrfind_tolerant as _attrfind,
    charref as _charref,  # noqa: F401  (documenting provenance)
    locatestarttagend_tolerant as _locatestarttagend,
    tagfind_tolerant as _tagfind,
)

# One regex step per common token.  Each alternative accepts only a shape
# on which the tolerant machinery below gives the same tokens, so a match
# needs no re-check; any other construct (and all input inside a raw-text
# element) takes the tolerant path one token at a time.
#   1 text run up to the next '<'
#   2-4 start tag: name, attributes, '/' of a self-closing tag.  Names
#     are ASCII alphanumeric; attributes are separated by ASCII
#     whitespace and are valueless or take a double-quoted, single-quoted
#     or unquoted value, with one '=' and optional ASCII whitespace
#     around it.  (Unicode whitespace, '==', an empty unquoted value,
#     quotes or '<' in an unquoted value, or attributes not separated by
#     whitespace all fall to the tolerant path.)
#   5 end tag (endtagfind of html.parser)
#   6 comment body (`<!--` to the first `--\s*>`, as parse_comment)
_WS = r"[ \t\n\r\f]"
_ATTR_NAME = r"[a-zA-Z_:][-a-zA-Z0-9_:.]*"
_ATTR_VALUES = r""""[^"]*"|'[^']*'|[^\s"'=<>`]+"""
_TOKEN = _re.compile(
    r"([^<]+)"
    rf"|<([a-zA-Z][a-zA-Z0-9]*)"
    rf"((?:{_WS}+{_ATTR_NAME}(?:{_WS}*={_WS}*(?:{_ATTR_VALUES}))?)*)"
    rf"{_WS}*(/?)>"
    r"|</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    r"|<!--(.*?)--\s*>",
    _re.S,
)
# one attribute of a group-3 match: name, then the double-quoted,
# single-quoted or unquoted value (all None for a valueless attribute)
_ATTR = _re.compile(
    rf"{_WS}+({_ATTR_NAME})"
    rf"""(?:{_WS}*={_WS}*(?:"([^"]*)"|'([^']*)'|([^\s"'=<>`]+)))?"""
)
_commentclose = _re.compile(r"--\s*>")
_endtagfind = _re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_markedclose = _re.compile(r"]\s*]\s*>")
_msmarkedclose = _re.compile(r"]\s*>")
_CDATA_ELEMS = frozenset(CDATA_CONTENT_ELEMENTS)
_cdata_res = {
    elem: _re.compile(r"</\s*%s\s*>" % elem, _re.I) for elem in _CDATA_ELEMS
}


def _fast_feed(builder: TreeBuilder, rawdata: str) -> None:
    i = 0
    n = len(rawdata)
    cdata_elem = None
    cdata_re = None
    find = rawdata.find
    startswith = rawdata.startswith
    attr_iter = _ATTR.finditer
    handle_data = builder.handle_data
    start_in_body = builder.start_in_body
    start_tag = builder.start_tag
    end_in_body = builder.end_in_body
    while i < n:
        if cdata_elem is None:
            # the builder's open-element stack and body flag, re-read after
            # every call that may replace the one or set the other
            stack = builder.stack
            in_body = builder.body_started
            m = None
            for m in iter(_TOKEN.scanner(rawdata, i).match, None):
                group = m.lastindex
                if group == 4:
                    tag, attr_src, slash = m.group(2, 3, 4)
                    tag = tag.lower()
                    attrs = {}
                    if attr_src:
                        for am in attr_iter(attr_src):
                            name, dq, sq, bare = am.groups()
                            name = name.lower()
                            if name in attrs:
                                continue
                            if dq is not None:
                                value = dq
                            elif sq is not None:
                                value = sq
                            else:  # unquoted, or "" for a valueless one
                                value = bare or ""
                            if "&" in value:
                                value = _unescape(value)
                            attrs[name] = value
                    if slash:
                        builder.handle_startendtag(tag, list(attrs.items()))
                        stack = builder.stack
                        in_body = builder.body_started
                    elif not start_in_body(tag, attrs):
                        start_tag(tag, attrs)
                        stack = builder.stack
                        in_body = builder.body_started
                    if tag in _CDATA_ELEMS and not slash:
                        cdata_elem = tag
                        cdata_re = _cdata_res[tag]
                        break
                elif group == 5:
                    tag = m.group(5).lower()
                    if not end_in_body(tag):
                        builder.handle_endtag(tag)
                        stack = builder.stack
                        in_body = builder.body_started
                elif group == 1:
                    seg = m.group(1)
                    if "&" in seg:
                        seg = _unescape(seg)
                    cur = stack[-1]
                    if in_body and cur.name not in _TEXT_RULES:
                        # handle_data's in-body case: extend the current
                        # node's trailing text node or append a new one
                        children = cur.children
                        if children and children[-1].kind == "text":
                            children[-1].text += seg
                        else:
                            node = DomNode("text", None, None, seg)
                            node.parent = cur
                            children.append(node)
                    else:
                        handle_data(seg)
                        stack = builder.stack
                        in_body = builder.body_started
                else:
                    builder.handle_comment(m.group(6))
            if m is not None:
                i = m.end()
                continue
            j = find("<", i)
            if j < 0:
                j = n
        else:
            m = cdata_re.search(rawdata, i)
            if m:
                j = m.start()
            else:
                return  # unterminated cdata: trailing data dropped
        if i < j:
            seg = rawdata[i:j]
            if cdata_elem is None and "&" in seg:
                seg = _unescape(seg)
            handle_data(seg)
        i = j
        if i == n:
            break
        # rawdata[i] == '<'
        c = rawdata[i + 1] if i + 1 < n else ""
        k = -1
        if c.isalpha() and c.isascii():
            # start tag (parse_starttag, html/parser.py:300-340)
            m = _locatestarttagend.match(rawdata, i)
            endpos = -1
            if m:
                j2 = m.end()
                nxt = rawdata[j2 : j2 + 1]
                if nxt == ">":
                    endpos = j2 + 1
                elif nxt == "/":
                    if startswith("/>", j2):
                        endpos = j2 + 2
                    else:
                        endpos = j2 if j2 > i else i + 1
                elif nxt == "":
                    endpos = -1
                elif nxt in "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ":
                    endpos = -1
                else:
                    endpos = j2 if j2 > i else i + 1
            if endpos >= 0:
                tm = _tagfind.match(rawdata, i + 1)
                kk = tm.end()
                tag = tm.group(1).lower()
                attrs = []
                while kk < endpos:
                    am = _attrfind.match(rawdata, kk)
                    if not am:
                        break
                    attrname, rest, attrvalue = am.group(1, 2, 3)
                    if not rest:
                        attrvalue = None
                    elif (
                        attrvalue[:1] == "'" == attrvalue[-1:]
                        or attrvalue[:1] == '"' == attrvalue[-1:]
                    ):
                        attrvalue = attrvalue[1:-1]
                    if attrvalue:
                        attrvalue = _unescape(attrvalue)
                    attrs.append((attrname.lower(), attrvalue))
                    kk = am.end()
                endmark = rawdata[kk:endpos].strip()
                if endmark not in (">", "/>"):
                    handle_data(rawdata[i:endpos])
                    k = endpos
                elif endmark.endswith("/>"):
                    builder.handle_startendtag(tag, attrs)
                    k = endpos
                else:
                    builder.handle_starttag(tag, attrs)
                    if tag in _CDATA_ELEMS:
                        cdata_elem = tag
                        cdata_re = _cdata_res[tag]
                    k = endpos
        elif c == "/":
            # end tag (parse_endtag, html/parser.py:378-415)
            gt = find(">", i + 1)
            if gt < 0:
                k = -1
            else:
                gtpos = gt + 1
                m = _endtagfind.match(rawdata, i)
                if not m:
                    if cdata_elem is not None:
                        handle_data(rawdata[i:gtpos])
                        k = gtpos
                    else:
                        nm = _tagfind.match(rawdata, i + 2)
                        if not nm:
                            if rawdata[i : i + 3] == "</>":
                                k = i + 3
                            else:  # bogus comment (parse_bogus_comment)
                                pos = find(">", i + 2)
                                if pos == -1:
                                    k = -1
                                else:
                                    builder.handle_comment(rawdata[i + 2 : pos])
                                    k = pos + 1
                        else:
                            tagname = nm.group(1).lower()
                            gt2 = find(">", nm.end())
                            builder.handle_endtag(tagname)
                            k = gt2 + 1  # mirrors stdlib (gt2 may be -1 → 0)
                else:
                    elem = m.group(1).lower()
                    if cdata_elem is not None and elem != cdata_elem:
                        handle_data(rawdata[i:gtpos])
                        k = gtpos
                    else:
                        builder.handle_endtag(elem)
                        cdata_elem = None
                        cdata_re = None
                        k = gtpos
        elif startswith("<!--", i):
            m = _commentclose.search(rawdata, i + 4)
            if m:
                builder.handle_comment(rawdata[i + 4 : m.start()])
                k = m.end()
            else:
                k = -1
        elif c == "?":
            gt = find(">", i + 2)
            k = -1 if gt < 0 else gt + 1
        elif c == "!":
            if startswith("<![", i):
                nm = _re.match(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*", rawdata[i + 3 :])
                sect = nm.group(0).strip().lower() if nm else ""
                if sect in ("if", "else", "endif"):
                    m = _msmarkedclose.search(rawdata, i + 3)
                else:
                    m = _markedclose.search(rawdata, i + 3)
                k = m.end() if m else -1
            elif rawdata[i : i + 9].lower() == "<!doctype":
                gt = find(">", i + 9)
                k = -1 if gt == -1 else gt + 1
            else:  # bogus comment (parse_bogus_comment)
                pos = find(">", i + 2)
                if pos == -1:
                    k = -1
                else:
                    builder.handle_comment(rawdata[i + 2 : pos])
                    k = pos + 1
        elif i + 1 < n:
            handle_data("<")
            k = i + 1
        else:
            break
        if k < 0:
            # unterminated construct at EOF (goahead end=1 recovery)
            k = find(">", i + 1)
            if k < 0:
                k = find("<", i + 1)
                if k < 0:
                    k = i + 1
            else:
                k += 1
            seg = rawdata[i:k]
            if cdata_elem is None and "&" in seg:
                seg = _unescape(seg)
            handle_data(seg)
        i = k
    if i < n and cdata_elem is None:
        # trailing data after a bare '<' at EOF (goahead end-of-input emit)
        seg = rawdata[i:n]
        if "&" in seg:
            seg = _unescape(seg)
        handle_data(seg)


_RAWTEXT_SERIALIZE = frozenset(
    "style script xmp iframe noembed noframes plaintext".split()
)


def _esc_text(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace("\xa0", "&nbsp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )


def _esc_attr(s: str) -> str:
    return s.replace("&", "&amp;").replace("\xa0", "&nbsp;").replace('"', "&quot;")


def serialize_html(node: DomNode) -> str:
    """Serialize a DOM subtree back to HTML, matching html5ever's
    serializer rules (attr/text escaping incl. &nbsp;, void elements,
    raw-text elements).  Used by `display: x-raw-dom` (lib.rs:1860-1914)."""
    out = []
    raw_depth = 0

    def walk(n: DomNode) -> None:
        nonlocal raw_depth
        if n.kind == "text":
            out.append(n.text if raw_depth else _esc_text(n.text))
            return
        if n.kind == "comment":
            out.append(f"<!--{n.text}-->")
            return
        if n.kind == "document":
            for c in n.children:
                walk(c)
            return
        out.append("<" + n.name)
        for k, v in n.attrs.items():
            out.append(f' {k}="{_esc_attr(v)}"')
        out.append(">")
        if n.name in VOID_ELEMENTS:
            return
        is_raw = n.name in _RAWTEXT_SERIALIZE
        if is_raw:
            raw_depth += 1
        for c in n.children:
            walk(c)
        if is_raw:
            raw_depth -= 1
        out.append(f"</{n.name}>")

    walk(node)
    return "".join(out)


def parse_html(data: bytes | str, xml_mode: bool | None = None, fast: bool = True) -> DomNode:
    """Parse HTML bytes/str into a DOM Document node.

    xml_mode=None sniffs the first 5 bytes for `<?xml` (XmlMode::Auto,
    lib.rs:2983-2995).  fast=False uses the stdlib HTMLParser driver
    (reference implementation for differential testing)."""
    if isinstance(data, (bytes, bytearray)):
        data = data.decode("utf-8", errors="replace")
    if xml_mode is None:
        xml_mode = data.startswith("<?xml")
    if xml_mode:
        # xml5ever-equivalent path: case/namespace-preserving, no HTML
        # tree-builder magic (lib.rs:3025-3033)
        from .xmlparse import parse_xml as _parse_xml

        return _parse_xml(data)
    builder = TreeBuilder(xml_mode)
    if fast:
        _fast_feed(builder, data)
    else:
        tokenizer = _StdlibTokenizer(builder)
        tokenizer.feed(data)
        tokenizer.close()
    builder._ensure_body()
    return builder.doc
