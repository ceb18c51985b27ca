"""DOM → render-tree lowering.

Re-derives `process_dom_node` and the table lowering helpers
(/root/reference/src/lib.rs:1193-1345, 1823-2296): one dispatch rule per
HTML element family, computed styles via the CSS cascade, `display:none`
pruning, empty-element pruning, colspan-0 expansion, and `id`/`a name`
fragment markers plus CSS ::before/::after content insertion.
"""

from __future__ import annotations

from . import nodes as N
from .nodes import RenderNode, RenderTableCell, RenderTableRow, RenderTable
from .styles import (
    DISPLAY_NONE,
    DISPLAY_RAW_DOM,
    ORIGIN_AGENT,
    SPEC_DEFAULT,
    WithSpec,
)
from .wrapped import WS_PRE


_XHTML_NS = "http://www.w3.org/1999/xhtml"

# a cons result meaning "no render node" (the Rust `Ok(None)`); a real
# result may be any other value
NOTHING_SENTINEL = object()

CHILD_START = 0
CHILD_END = 1

import re as _re

_INT_RE = _re.compile(r"[+-]?[0-9]+\Z")


def _parse_usize(s, default):
    """Rust str::parse::<usize>().unwrap_or(default)."""
    if s is None or not _INT_RE.match(s) or s.lstrip("+").startswith("-"):
        return default
    return int(s)


def _parse_int(s, default):
    """Rust str::parse::<i64>().ok().unwrap_or(default)."""
    if s is None or not _INT_RE.match(s):
        return default
    return int(s)

_INSERTABLE = frozenset(
    {N.BLOCK, N.LIST_ITEM, N.DD, N.DT, N.DL, N.DIV, N.BLOCKQUOTE, N.CONTAINER}
)


def insert_child(new_child: RenderNode, orig: RenderNode, position: int) -> RenderNode:
    """lib.rs:1746-1821."""
    k = orig.kind
    if k in _INSERTABLE:
        if position == CHILD_START:
            orig.children.insert(0, new_child)
        else:
            orig.children.append(new_child)
        return orig
    if k == N.TABLE_CELL:
        cell = orig.extra
        if position == CHILD_START:
            cell.content.insert(0, new_child)
        else:
            cell.content.append(new_child)
        return orig
    if k == N.TABLE_ROW:
        rrow = orig.extra[0]
        if rrow.cells:
            cell = rrow.cells[0]
            if position == CHILD_START:
                cell.content.insert(0, new_child)
            else:
                cell.content.append(new_child)
        return orig
    if k in (N.TABLE_BODY, N.TABLE):
        rows = orig.extra.rows if k == N.TABLE else orig.extra
        if rows and rows[0].cells:
            cell = rows[0].cells[0]
            if position == CHILD_START:
                cell.content.insert(0, new_child)
            else:
                cell.content.append(new_child)
        return orig
    if position == CHILD_START:
        return RenderNode(N.CONTAINER, [new_child, orig])
    return RenderNode(N.CONTAINER, [orig, new_child])


_DROPPED = frozenset("link meta hr script style head".split())
_EM_TAGS = frozenset(("em", "i", "ins"))
_STRONG_TAGS = frozenset(("strong", "b"))
_STRIKE_TAGS = frozenset(("s", "del"))
_HEADERS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))


def _extract_raw_text(node) -> str:
    """Concatenated text of a subtree in document order (lib.rs:1602-1646)."""
    out = []
    stack = [node]
    while stack:
        n = stack.pop()
        if n.kind == "text":
            out.append(n.text)
        else:
            stack.extend(reversed(n.children))
    return "".join(out)


def _subtree_text_len(node) -> int:
    total = 0
    stack = [node]
    while stack:
        n = stack.pop()
        if n.kind == "text":
            total += len(n.text)
        else:
            stack.extend(n.children)
    return total


def _distribute_extra_styles(node) -> None:
    """Split a node's syntax-highlight overlays among its children by
    cumulative text offset (RenderInput::children, lib.rs:1552-1600)."""
    extra = node.extra_styles
    offset = 0
    start_idx = 0
    for child in node.children:
        end_offset = offset + (
            len(child.text) if child.kind == "text" else _subtree_text_len(child)
        )
        child_styles = []
        for es_idx in range(start_idx, len(extra)):
            (s, e), style = extra[es_idx]
            if s >= end_offset:
                break
            if e <= offset:
                start_idx = es_idx
            else:
                child_styles.append(
                    ((max(s, offset) - offset, min(e, end_offset) - offset), style)
                )
        if child_styles:
            child.extra_styles = child_styles
        offset = end_offset


# --- cons functions: (children, computed style, arg) -> RenderNode | NOTHING ---
# Each builds an element's render node from its lowered children
# (NOTHING_SENTINEL: the element yields no node, the Rust `Ok(None)`).


def _cons_node(cs, computed, kind):
    return RenderNode(kind, cs, style=computed)


def _cons_noempty(cs, computed, kind):
    if not cs:
        return NOTHING_SENTINEL
    return RenderNode(kind, cs, style=computed)


def _cons_header(cs, computed, level):
    return RenderNode(N.HEADER, cs, value=level, style=computed)


def _cons_link(cs, computed, href):
    for c in cs:
        if not c.is_shallow_empty():
            return RenderNode(N.LINK, cs, text=href, style=computed)
    return NOTHING_SENTINEL


def _cons_pre(cs, computed, _):
    pre_style = computed.inherit()
    pre_style.white_space.maybe_update(False, ORIGIN_AGENT, SPEC_DEFAULT, WS_PRE)
    pre_style.internal_pre = True
    return RenderNode(N.BLOCK, cs, style=pre_style)


def _cons_ol(cs, computed, start):
    if not cs:
        return NOTHING_SENTINEL
    items = [n for n in cs if n.kind == N.LIST_ITEM]
    return RenderNode(N.OL, items, value=start, style=computed)


def _cons_dl(cs, computed, _):
    if not cs:
        return NOTHING_SENTINEL
    items = [n for n in cs if n.kind in (N.DT, N.DD)]
    return RenderNode(N.DL, items, style=computed)


def _cons_table(rowset, computed, _):
    """lib.rs:1193-1216."""
    rows = []
    for bodynode in rowset:
        if bodynode.kind == N.TABLE_BODY:
            rows.extend(bodynode.extra)
    if not rows:
        return NOTHING_SENTINEL
    return RenderNode(N.TABLE, extra=RenderTable(rows), style=computed)


def _cons_tbody(rowchildren, computed, _):
    """lib.rs:1219-1269 (incl. colspan=0 expansion)."""
    if not rowchildren:
        return NOTHING_SENTINEL
    rows = [rn.extra[0] for rn in rowchildren if rn.kind == N.TABLE_ROW]
    num_columns = []
    for row in rows:
        has_zero = False
        span_sum = 0
        for cell in row.cells:
            has_zero = has_zero or cell.colspan == 0
            span_sum += max(cell.colspan, 1)
        num_columns.append((has_zero, span_sum))
    max_columns = max((s for _, s in num_columns), default=1)
    for i, (has_zero, num_cols) in enumerate(num_columns):
        if has_zero:
            for cell in rows[i].cells:
                if cell.colspan == 0:
                    cell.colspan = max_columns - num_cols + 1
    return RenderNode(N.TABLE_BODY, extra=rows, style=computed)


def _cons_tr(cellnodes, computed, _):
    """lib.rs:1272-1302."""
    cells = [cn.extra for cn in cellnodes if cn.kind == N.TABLE_CELL]
    row = RenderTableRow(cells, computed)
    return RenderNode(N.TABLE_ROW, extra=(row, False), style=computed)


def _cons_td(children, computed, spans):
    """lib.rs:1305-1340."""
    colspan, rowspan = spans
    cell = RenderTableCell(colspan, rowspan, children, computed)
    return RenderNode(N.TABLE_CELL, extra=cell, style=computed)


def _cons_raw_dom(cs, computed, pre_style):
    return RenderNode(N.CONTAINER, cs, style=pre_style)


def _cons_decorated(cs, computed, arg):
    inner, inner_arg, before, after, fragment = arg
    return _decorate(inner(cs, computed, inner_arg), before, after, fragment)


def _decorate(out, before, after, fragment):
    """::before/::after content (lib.rs:2165-2209), then the fragment
    start marker (lib.rs:2211-2240), around an element's result."""
    if out is not NOTHING_SENTINEL:
        if before is not None:
            out = insert_child(RenderNode(N.TEXT, text=before), out, CHILD_START)
        if after is not None:
            out = insert_child(RenderNode(N.TEXT, text=after), out, CHILD_END)
    if fragment is not None:
        fragnode = RenderNode(N.FRAG_START, text=fragment)
        if out is NOTHING_SENTINEL:
            return fragnode
        out = insert_child(fragnode, out, CHILD_START)
    return out


# tag -> (cons, arg) for the elements whose node depends only on the tag
_TAG_CONS = {
    "p": (_cons_noempty, N.BLOCK),
    "div": (_cons_noempty, N.DIV),
    "li": (_cons_node, N.LIST_ITEM),
    "html": (_cons_node, N.CONTAINER),
    "body": (_cons_node, N.CONTAINER),
    "span": (_cons_noempty, N.CONTAINER),
    "sup": (_cons_node, N.SUP),
    "code": (_cons_node, N.CODE),
    "pre": (_cons_pre, None),
    "tr": (_cons_tr, None),
    "table": (_cons_table, None),
    "thead": (_cons_tbody, None),
    "tbody": (_cons_tbody, None),
    "blockquote": (_cons_noempty, N.BLOCKQUOTE),
    "ul": (_cons_noempty, N.UL),
    "dl": (_cons_dl, None),
    "dt": (_cons_node, N.DT),
    "dd": (_cons_node, N.DD),
}
for _tag in _EM_TAGS:
    _TAG_CONS[_tag] = (_cons_node, N.EM)
for _tag in _STRONG_TAGS:
    _TAG_CONS[_tag] = (_cons_node, N.STRONG)
for _tag in _STRIKE_TAGS:
    _TAG_CONS[_tag] = (_cons_node, N.STRIKEOUT)
for _tag in _HEADERS:
    _TAG_CONS[_tag] = (_cons_header, int(_tag[1:]))
del _tag

_UNKNOWN = (_cons_noempty, N.CONTAINER)


def _open_other(node, name, computed):
    """The arms of lib.rs:1930-2163 that read attributes or children.
    Returns (cons, arg), or (None, result) for an element whose result
    is known without lowering its children."""
    if name == "a":
        href = node.attrs.get("href")
        if href is not None:
            return _cons_link, href
        return _cons_node, N.CONTAINER
    if name in ("th", "td"):
        attrs = node.attrs
        spans = (
            _parse_usize(attrs.get("colspan"), 1),
            _parse_usize(attrs.get("rowspan"), 1),
        )
        return _cons_td, spans
    if name in _DROPPED:
        return None, NOTHING_SENTINEL
    if name == "img":
        title = node.attrs.get("alt") or None
        src = node.attrs.get("src") or None
        if src is None:
            return None, NOTHING_SENTINEL
        return None, RenderNode(N.IMG, text=src, extra=title or "", style=computed)
    if name == "svg":
        title = None
        for child in node.children:
            if child.kind == "element":
                if child.name == "title":
                    title = "".join(
                        sub.text for sub in child.children if sub.kind == "text"
                    )
                else:
                    break
        return None, RenderNode(N.SVG, extra=title or "", style=computed)
    if name == "br":
        return None, RenderNode(N.BREAK, style=computed)
    if name == "wbr":
        return None, RenderNode(N.TEXT, text="\u200b", style=computed)
    if name == "ol":
        return _cons_ol, _parse_int(node.attrs.get("start"), 1)
    if name == "template":
        # html5ever stores template contents out-of-tree (template_contents,
        # not children), so the reference sees an empty unknown element and
        # drops it (pending_noempty with no children).
        return None, NOTHING_SENTINEL
    return _UNKNOWN


def _lower_styled_text(node, parent_style):
    """A text node with syntax-highlight spans: one Text node per styled
    or unstyled run (lib.rs:1836-1858)."""
    tstr = node.text
    nodes = []
    offset = 0
    parent_syntax = parent_style.syntax
    for (start, end), style in node.extra_styles:
        if start > offset:
            nodes.append(RenderNode(N.TEXT, text=tstr[offset:start]))
        cstyle = parent_style.inherit()
        fg, bg = style
        cstyle.colour.maybe_update(
            parent_syntax.important,
            parent_syntax.origin,
            parent_syntax.specificity,
            fg,
        )
        if bg is not None:
            cstyle.bg_colour.maybe_update(
                parent_syntax.important,
                parent_syntax.origin,
                parent_syntax.specificity,
                bg,
            )
        nodes.append(RenderNode(N.TEXT, text=tstr[start:end], style=cstyle))
        offset = end
    if offset < len(tstr):
        nodes.append(RenderNode(N.TEXT, text=tstr[offset:]))
    if len(nodes) == 1:
        return nodes[0]
    return RenderNode(N.CONTAINER, nodes)


def _raw_dom_frame(node, computed):
    """css_ext `display: x-raw-dom`: the subtree serialized as HTML inside
    a pre container (lib.rs:1860-1914)."""
    from .htmlparse import DomNode, serialize_html

    pre_style = computed.inherit()
    pre_style.display = WithSpec()
    pre_style.white_space.maybe_update(False, ORIGIN_AGENT, SPEC_DEFAULT, WS_PRE)
    pre_style.internal_pre = True
    return [DomNode("text", text=serialize_html(node))], pre_style


def _highlight(node, highlighter) -> None:
    """css_ext syntax highlighting (lib.rs:1917-1926)."""
    raw_text = _extract_raw_text(node)
    spans = []
    for start, end, fg, bg in highlighter(raw_text):
        spans.append(((start, end), (fg, bg)))
    spans.sort(key=lambda r: (r[0][0], r[0][1]))
    if spans:
        node.extra_styles = spans
        _distribute_extra_styles(node)


def _lower(top, context):
    """process_dom_node over the whole DOM (lib.rs:1823-2296) on one
    explicit stack.  A frame is an element whose children are being
    lowered: (children iterator, their results, cons, computed style,
    cons arg); when the iterator runs out, cons builds the element's node
    from the results and appends it to the parent frame's results."""
    style_data = context.style_data
    use_doc_css = context.use_doc_css
    parent_style = context.parent_style
    # tags some stylesheet rule names; None when any rule may match any tag
    cascade_tags = None if use_doc_css else style_data.cascade_tags()
    tag_cons = _TAG_CONS
    render_node = RenderNode
    TEXT = N.TEXT
    root_results = []
    results = root_results
    it = iter((top,))
    cons = computed = arg = None
    stack = []
    while True:
        for node in it:
            kind = node.kind
            if kind == "text":
                if node.extra_styles:
                    results.append(_lower_styled_text(node, parent_style))
                else:
                    results.append(render_node(TEXT, None, node.text))
                continue
            if kind == "document":
                node_cons, node_style, node_arg = _cons_node, None, N.CONTAINER
                children = node.children
            elif kind != "element":
                continue  # comments
            else:
                if node.extra_styles:
                    _distribute_extra_styles(node)
                name = node.name
                if node.ns is not None and node.ns != _XHTML_NS:
                    # xml5ever parity: only XHTML-namespace elements match the
                    # HTML dispatch arms (lib.rs:1934 expanded_name!(html ...));
                    # foreign elements fall to the unknown-element Container
                    # arm.  Tag-name case is preserved by xmlparse.py, so `<P>`
                    # likewise falls through (the dispatch is exact-match on
                    # lowercase names).
                    name = ""
                if cascade_tags is not None and node.name not in cascade_tags:
                    node_style = parent_style
                else:
                    node_style = style_data.computed_style(parent_style, node, use_doc_css)
                display = node_style.display.val
                if display == DISPLAY_NONE:
                    continue
                if display == DISPLAY_RAW_DOM:
                    children, node_arg = _raw_dom_frame(node, node_style)
                    node_cons = _cons_raw_dom
                else:
                    syntax_lang = node_style.syntax.val
                    if syntax_lang is not None and node.extra_styles is None:
                        highlighter = context.syntax_highlighters.get(syntax_lang)
                        if highlighter is not None:
                            _highlight(node, highlighter)
                    node_cons, node_arg = tag_cons.get(name) or _open_other(
                        node, name, node_style
                    )
                    children = node.children
                    before = node_style.content_before
                    if before is not None:
                        before = before.content.val
                    after = node_style.content_after
                    if after is not None:
                        after = after.content.val
                    fragment = node.attrs.get("id")
                    if fragment is None and name == "a":
                        fragment = node.attrs.get("name")
                    if before is not None or after is not None or fragment is not None:
                        if node_cons is None:
                            node_arg = _decorate(node_arg, before, after, fragment)
                        else:
                            node_arg = (node_cons, node_arg, before, after, fragment)
                            node_cons = _cons_decorated
            if node_cons is None:
                out = node_arg
            elif children:
                stack.append((it, results, cons, computed, arg))
                it = iter(children)
                results = []
                cons, computed, arg = node_cons, node_style, node_arg
                break
            else:
                out = node_cons([], node_style, node_arg)
            if out is not NOTHING_SENTINEL:
                results.append(out)
        else:
            if not stack:
                return root_results[0] if root_results else None
            out = cons(results, computed, arg)
            it, results, cons, computed, arg = stack.pop()
            if out is not NOTHING_SENTINEL:
                results.append(out)


def dom_to_render_tree(dom, context):
    """lib.rs:1662-1684."""
    if context.use_doc_css:
        doc_style = _extract_doc_styles(dom)
        doc_style.merge(context.style_data)
        context.style_data = doc_style

    return _lower(dom, context)


def _extract_doc_styles(dom):
    """css.rs:717-812 — collect <style> text into author rules."""
    from . import cssparse
    from .styles import StyleData

    texts: list[str] = []
    stack = [dom]
    while stack:
        node = stack.pop()
        if (
            node.kind == "element"
            and node.name == "style"
            and (node.ns is None or node.ns == "http://www.w3.org/1999/xhtml")
        ):
            texts.append(
                "".join(c.text for c in node.children if c.kind == "text")
            )
            continue
        stack.extend(reversed(node.children))
    result = StyleData()
    for css in texts:
        try:
            cssparse.add_css(result.author_rules, css, allow_extensions=False)
        except Exception:
            pass
    return result
