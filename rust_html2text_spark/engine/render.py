"""Render-tree → lines driver.

Re-derives `do_render_node` (/root/reference/src/lib.rs:2396-2674), table
column-width negotiation (`render_table_tree`, lib.rs:2676-2792), row/cell
rendering (lib.rs:2794-2874), style push/unwind (lib.rs:2344-2394) and the
two-pass pipeline `render_tree_to_string` (lib.rs:2298-2323).

The reference folds the tree with `tree_map_reduce` (lib.rs:1371-1448):
a node's handler runs on the way down, its children are rendered, then
its `cons` callback runs on the way up.  `_walk` keeps that order on one
explicit stack (no recursion, so a deep tree cannot overflow the Python
stack).  A stack entry is either a node to open or an `(action, arg)`
tuple: a node's close action is pushed before its children, so it runs
after the last of them, where the reference runs `cons`.  The per-child
hooks of lists and table rows are such tuples too, pushed around each
child.
"""

from __future__ import annotations

from itertools import chain, repeat

from . import nodes as N
from .nodes import RenderNode
from .styles import DEFAULT_STYLE
from .subrender import SubRenderer, TextRenderer
from .wrapped import WS_PRE, WS_PRE_WRAP

SUPERSCRIPTS = "⁰¹²³⁴⁵⁶⁷⁸⁹"

# node kinds whose render branch reads size estimates (directly, or — for
# TABLE — via the cells' content estimates in _open_table)
_NEEDS_ESTIMATE = frozenset(
    {N.HEADER, N.BLOCKQUOTE, N.UL, N.OL, N.DD, N.TABLE}
)


class PushedStyleInfo:
    """lib.rs:2344-2394."""

    __slots__ = ("colour", "bgcolour", "white_space", "preformat")

    def __init__(self):
        self.colour = False
        self.bgcolour = False
        self.white_space = False
        self.preformat = False

    @classmethod
    def apply(cls, render: SubRenderer, style) -> "PushedStyleInfo":
        result = cls()
        col = style.colour.val
        if col is not None:
            render.push_colour(col)
            result.colour = True
        col = style.bg_colour.val
        if col is not None:
            render.push_bgcolour(col)
            result.bgcolour = True
        ws = style.white_space.val
        if ws in (WS_PRE, WS_PRE_WRAP):
            render.push_ws(ws)
            result.white_space = True
        if style.internal_pre:
            render.push_preformat()
            result.preformat = True
        return result

    def unwind(self, renderer: SubRenderer) -> None:
        if self.bgcolour:
            renderer.pop_bgcolour()
        if self.colour:
            renderer.pop_colour()
        if self.white_space:
            renderer.pop_ws()
        if self.preformat:
            renderer.pop_preformat()


_LEAF_KINDS = frozenset({N.TEXT, N.IMG, N.SVG, N.BREAK, N.FRAG_START})


def estimate_sizes(tree: RenderNode, context, decorator) -> None:
    """Bottom-up size estimates for `tree` (lib.rs:1130-1190).  A table's
    children are its cells' contents; a node already estimated is not
    entered.  Reversed pre-order puts every node after its descendants,
    so each `calc_size_estimate` finds its children's values cached."""
    order = []
    stack = [tree]
    while stack:
        node = stack.pop()
        if node.size_estimate is not None:
            continue
        order.append(node)
        k = node.kind
        if k == N.TABLE:
            for row in node.extra.rows:
                for cell in row.cells:
                    stack.extend(cell.content)
        elif k not in _LEAF_KINDS:
            stack.extend(node.children)
    for node in reversed(order):
        node.calc_size_estimate(context, decorator)


# --- close actions: (tr: TextRenderer, arg) -> None ---------------------------
# `pushed` is the node's PushedStyleInfo, or None when its style is
# DEFAULT_STYLE (nothing pushed, nothing to unwind).


def _unwind(tr, pushed):
    pushed.unwind(tr.subrender[-1])


def _end_block(tr, pushed):
    top = tr.subrender[-1]
    top.end_block()
    if pushed is not None:
        pushed.unwind(top)


def _end_link(tr, pushed):
    tr.end_link()
    if pushed is not None:
        pushed.unwind(tr.subrender[-1])


def _end_inline(tr, arg):
    end, pushed = arg
    top = tr.subrender[-1]
    end(top)
    if pushed is not None:
        pushed.unwind(top)


def _end_div(tr, pushed):
    top = tr.subrender[-1]
    top.new_line()
    if pushed is not None:
        pushed.unwind(top)


def _end_prefixed_block(tr, arg):
    """Header and blockquote: the sub-render, every line prefixed."""
    prefix, pushed = arg
    subs = tr.subrender
    sub = subs.pop()
    top = subs[-1]
    top.start_block()
    top.append_subrender(sub, repeat(prefix))
    top.end_block()
    if pushed is not None:
        pushed.unwind(top)


def _end_dd(tr, pushed):
    subs = tr.subrender
    sub = subs.pop()
    top = subs[-1]
    top.append_subrender(sub, repeat("  "))
    if pushed is not None:
        pushed.unwind(top)


def _push_sub(tr, width):
    subs = tr.subrender
    subs.append(subs[-1].new_sub_renderer(width))


def _end_list_item(tr, prefixes):
    """After one ul/ol child: its sub-render, the first line prefixed
    with the item prefix and the rest indented."""
    first, rest = prefixes
    subs = tr.subrender
    sub = subs.pop()
    subs[-1].append_subrender(sub, chain((first,), repeat(rest)))


def _collect_sub(tr, collected):
    collected.append(tr.subrender.pop())


def _end_table(tr, _):
    top = tr.subrender[-1]
    if top.options.fence_tables and tr.table_depth == 1:
        top.add_inline_text("```")
    tr.table_depth -= 1


def _end_row(tr, arg):
    """lib.rs:2794-2838."""
    cells, rowspans, have_overhang, pushed = arg
    top = tr.subrender[-1]
    if have_overhang or any(not c.empty() for c in cells):
        top.append_columns_with_borders(zip(cells, rowspans), True)
    if pushed is not None:
        pushed.unwind(top)


def _end_vert_row(tr, arg):
    """lib.rs:2840-2867."""
    cells, pushed = arg
    top = tr.subrender[-1]
    top.append_vert_row(cells)
    if pushed is not None:
        pushed.unwind(top)


# --- open handlers: (tr, node, pushed, push) -> children to walk | None -------
# `push` appends to the walk's stack; a handler pushes its close action
# (if any) and returns the children, which the walk pushes above it.

_INLINE_STYLES = {
    N.EM: (SubRenderer.start_emphasis, SubRenderer.end_emphasis),
    N.STRONG: (SubRenderer.start_strong, SubRenderer.end_strong),
    N.STRIKEOUT: (SubRenderer.start_strikeout, SubRenderer.end_strikeout),
    N.CODE: (SubRenderer.start_code, SubRenderer.end_code),
}


def _open_inline(tr, node, pushed, push):
    start, end = _INLINE_STYLES[node.kind]
    start(tr.subrender[-1])
    push((_end_inline, (end, pushed)))
    return node.children


def _open_leaf(tr, node, pushed, push):
    top = tr.subrender[-1]
    k = node.kind
    if k == N.BREAK:
        top.new_line_hard()
    elif k == N.IMG:
        top.add_image(node.text, node.extra)
    elif k == N.SVG:
        top.add_image("", node.extra)
    else:  # FRAG_START
        top.record_frag_start(node.text)
    if pushed is not None:
        pushed.unwind(top)
    return None


def _open_header(tr, node, pushed, push):
    subs = tr.subrender
    top = subs[-1]
    prefix = top.header_prefix(node.value)
    est = node.size_estimate
    inner_width = max(est.min_width - est.prefix_size, 0)
    subs.append(top.new_sub_renderer(top.width_minus(est.prefix_size, inner_width)))
    push((_end_prefixed_block, (prefix, pushed)))
    return node.children


def _open_blockquote(tr, node, pushed, push):
    subs = tr.subrender
    top = subs[-1]
    prefix = top.quote_prefix()
    inner_width = node.size_estimate.min_width - len(prefix)
    subs.append(top.new_sub_renderer(top.width_minus(len(prefix), inner_width)))
    push((_end_prefixed_block, (prefix, pushed)))
    return node.children


def _open_div(tr, node, pushed, push):
    tr.subrender[-1].new_line()
    push((_end_div, pushed))
    return node.children


def _push_list_items(push, children, width, prefixes):
    """Around each list item: push its sub-renderer before it, append the
    prefixed sub-render after it (the reference's prefn/postfn pair)."""
    pre = (_push_sub, width)
    for child, pair in zip(reversed(children), reversed(prefixes)):
        push((_end_list_item, pair))
        push(child)
        push(pre)


def _open_ul(tr, node, pushed, push):
    top = tr.subrender[-1]
    prefix = top.unordered_item_prefix()
    if pushed is not None:
        push((_unwind, pushed))
    children = node.children
    if children:
        prefix_len = len(prefix)
        width = top.width_minus(prefix_len, node.size_estimate.min_width - prefix_len)
        pair = (prefix, " " * prefix_len)
        _push_list_items(push, children, width, [pair] * len(children))
    return None


def _open_ol(tr, node, pushed, push):
    top = tr.subrender[-1]
    start = node.value
    children = node.children
    prefix_width = max(
        len(top.ordered_item_prefix(start)),
        len(top.ordered_item_prefix(start + len(children) - 1)),
    )
    if pushed is not None:
        push((_unwind, pushed))
    if children:
        est = node.size_estimate
        width = top.width_minus(prefix_width, est.min_width - est.prefix_size)
        prefixn = " " * prefix_width
        pairs = [
            (top.ordered_item_prefix(start + i).ljust(prefix_width), prefixn)
            for i in range(len(children))
        ]
        _push_list_items(push, children, width, pairs)
    return None


def _open_dl(tr, node, pushed, push):
    tr.subrender[-1].start_block()
    if pushed is not None:
        push((_unwind, pushed))
    return node.children


def _open_dt(tr, node, pushed, push):
    top = tr.subrender[-1]
    top.new_line()
    top.start_emphasis()
    push((_end_inline, (SubRenderer.end_emphasis, pushed)))
    return node.children


def _open_dd(tr, node, pushed, push):
    subs = tr.subrender
    top = subs[-1]
    inner_min = node.size_estimate.min_width - 2
    subs.append(top.new_sub_renderer(top.width_minus(2, inner_min)))
    push((_end_dd, pushed))
    return node.children


def _open_sup(tr, node, pushed, push):
    top = tr.subrender[-1]
    digits = _sup_digits(node.children)
    if digits is not None:
        top.add_inline_text(digits)
        if pushed is not None:
            pushed.unwind(top)
        return None
    top.start_superscript()
    push((_end_inline, (SubRenderer.end_superscript, pushed)))
    return node.children


def _sup_digits(children) -> str | None:
    if len(children) != 1:
        return None
    node = children[0]
    if node.kind == N.TEXT and node.text and all(
        "0" <= d <= "9" for d in node.text
    ):
        return "".join(SUPERSCRIPTS[ord(d) - 48] for d in node.text)
    return None


def _open_table(tr, node, pushed, push):
    """Column width negotiation (lib.rs:2676-2792).  Like the reference,
    the table's own style is pushed and never unwound."""
    table = node.extra
    num_columns = table.num_columns
    # per column: the widest cell's size and min width
    sizes = [0] * num_columns
    mins = [0] * num_columns
    for row in table.rows:
        colno = 0
        for cell in row.cells:
            estimate = cell.get_size_estimate()
            span = cell.colspan
            size = estimate.size // span
            min_width = estimate.min_width // span
            for i in range(colno, colno + span):
                if size > sizes[i]:
                    sizes[i] = size
                if min_width > mins[i]:
                    mins[i] = min_width
            colno += span
    tot_size = sum(sizes)
    min_size = sum(mins) + max(num_columns - 1, 0)
    top = tr.subrender[-1]
    width = top.width

    vert_row = top.options.raw or min_size > width or width == 0

    if not vert_row:
        col_widths = [
            min(size, max(size * width // tot_size, min_width)) if size else 0
            for size, min_width in zip(sizes, mins)
        ]
    else:
        col_widths = [width] * num_columns

    if not vert_row:
        num_cols = len(col_widths)
        if num_cols > 0:
            while True:
                cur_width = sum(col_widths) + num_cols - 1
                if cur_width <= width:
                    break
                # shave the column with the largest (excess, width, leftmost-last)
                best_i = 0
                best_key = None
                for colno, w in enumerate(col_widths):
                    key = (
                        max(w - mins[colno], 0),
                        w,
                        -colno,
                    )
                    if best_key is None or key > best_key:
                        best_key = key
                        best_i = colno
                col_widths[best_i] -= 1

    if vert_row:
        table_width = width
    else:
        table_width = sum(col_widths) + max(
            sum(1 for w in col_widths if w > 0) - 1, 0
        )

    top.start_table()
    tr.table_depth += 1

    if top.options.fence_tables and tr.table_depth == 1:
        top.add_inline_text("```")

    if table_width != 0 and top.options.draw_borders:
        top.add_horizontal_border_width(table_width)

    push((_end_table, None))
    return table.into_rows(col_widths, vert_row)


def _open_row(tr, node, pushed, push):
    """A row's cells each render into their own sub-renderer, pushed
    before the cell and collected after it for the row's close action."""
    row, vert = node.extra
    cells = []
    if vert:
        cell_nodes = row.into_cells(True)
        push((_end_vert_row, (cells, pushed)))
    else:
        rowspans = [cell.rowspan for cell in row.cells]
        have_overhang = any(cell.is_dummy for cell in row.cells)
        cell_nodes = row.into_cells(False)
        push((_end_row, (cells, rowspans, have_overhang, pushed)))
    collect = (_collect_sub, cells)
    for cell_node in reversed(cell_nodes):
        push(collect)
        push(cell_node)
        push((_push_sub, cell_node.extra.col_width))
    return None


def _open_cell(tr, node, pushed, push):
    if pushed is not None:
        push((_unwind, pushed))
    return node.extra.content


_OPEN = {
    N.EM: _open_inline,
    N.STRONG: _open_inline,
    N.STRIKEOUT: _open_inline,
    N.CODE: _open_inline,
    N.IMG: _open_leaf,
    N.SVG: _open_leaf,
    N.BREAK: _open_leaf,
    N.FRAG_START: _open_leaf,
    N.HEADER: _open_header,
    N.DIV: _open_div,
    N.BLOCKQUOTE: _open_blockquote,
    N.UL: _open_ul,
    N.OL: _open_ol,
    N.DL: _open_dl,
    N.DT: _open_dt,
    N.DD: _open_dd,
    N.TABLE: _open_table,
    N.TABLE_ROW: _open_row,
    N.TABLE_CELL: _open_cell,
    N.SUP: _open_sup,
}


def _walk(tr: TextRenderer, tree: RenderNode) -> None:
    """do_render_node over the whole tree (lib.rs:2396-2674).  Text,
    containers, blocks and links, the bulk of every page, are handled in
    the loop; the other kinds go through `_OPEN`.

    Size estimates are computed lazily: only the node kinds that consume
    them (header/blockquote/lists/dd/table) trigger the bottom-up
    estimation pass, and only over their own subtree, so a document of
    plain paragraphs never pays for a second walk."""
    subs = tr.subrender
    stack = [tree]
    pop = stack.pop
    push = stack.append
    extend = stack.extend
    apply_style = PushedStyleInfo.apply
    default_style = DEFAULT_STYLE
    needs_estimate = _NEEDS_ESTIMATE
    TEXT, CONTAINER, BLOCK, LIST_ITEM, LINK = (
        N.TEXT, N.CONTAINER, N.BLOCK, N.LIST_ITEM, N.LINK
    )
    while stack:
        node = pop()
        if node.__class__ is tuple:
            node[0](tr, node[1])
            continue
        k = node.kind
        style = node.style
        if k == TEXT:
            top = subs[-1]
            if style is default_style:
                top.add_inline_text(node.text)
            else:
                pushed = apply_style(top, style)
                top.add_inline_text(node.text)
                pushed.unwind(top)
            continue
        if node.size_estimate is None and k in needs_estimate:
            estimate_sizes(node, *tr.estimate_ctx)
        if style is default_style:
            pushed = None
        else:
            pushed = apply_style(subs[-1], style)
        if k == CONTAINER:
            if pushed is not None:
                push((_unwind, pushed))
            children = node.children
        elif k == BLOCK or k == LIST_ITEM:
            subs[-1].start_block()
            push((_end_block, pushed))
            children = node.children
        elif k == LINK:
            tr.start_link(node.text)
            push((_end_link, pushed))
            children = node.children
        else:
            handler = _OPEN.get(k)
            if handler is None:
                raise AssertionError(f"Unexpected node in render: {k}")
            children = handler(tr, node, pushed, push)
            if not children:
                continue
        extend(reversed(children))


def render_tree_to_string(context, renderer: SubRenderer, decorator, tree: RenderNode) -> SubRenderer:
    """Two-pass layout (lib.rs:2298-2323); the size-estimation pass runs
    lazily per consuming subtree (see `_walk`), carried through the walk
    via `estimate_ctx`."""
    text_renderer = TextRenderer(renderer)
    text_renderer.estimate_ctx = (context, decorator)
    _walk(text_renderer, tree)
    renderer, links = text_renderer.into_inner()
    lines = renderer.finalise(links)
    if lines:
        renderer.start_block()
        renderer.fmt_links(lines)
    return renderer
