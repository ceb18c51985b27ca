"""Render-tree → lines driver.

Re-derives `do_render_node` (/root/reference/src/lib.rs:2396-2674), table
column-width negotiation (`render_table_tree`, lib.rs:2676-2792), row/cell
rendering (lib.rs:2794-2874), style push/unwind (lib.rs:2344-2394) and the
two-pass pipeline `render_tree_to_string` (lib.rs:2298-2323).
"""

from __future__ import annotations

from itertools import chain, repeat

from . import nodes as N
from .fold import Finished, Pending, tree_map_reduce
from .nodes import RenderNode
from .subrender import SubRenderer, TextRenderer
from .wrapped import WS_PRE, WS_PRE_WRAP

SUPERSCRIPTS = "⁰¹²³⁴⁵⁶⁷⁸⁹"

_INLINE_STYLES = {
    N.EM: ("start_emphasis", "end_emphasis"),
    N.STRONG: ("start_strong", "end_strong"),
    N.STRIKEOUT: ("start_strikeout", "end_strikeout"),
    N.CODE: ("start_code", "end_code"),
}

# node kinds whose render branch reads size estimates (directly, or — for
# TABLE — via the cells' content estimates in render_table_tree)
_NEEDS_ESTIMATE = frozenset(
    {N.HEADER, N.BLOCKQUOTE, N.UL, N.OL, N.DD, N.TABLE}
)


# Fast-path singletons (r07): most nodes carry DEFAULT_STYLE (nothing to
# push/unwind), and the common container kinds then need no per-node
# closure either.
_FINISHED_NONE = None  # assigned after PushedStyleInfo is defined


def _cons_plain(r, _):
    return None


def _cons_end_block(r, _):
    r.end_block()
    return None


def _cons_end_link(r, _):
    r.end_link()
    return None


def _cons_cell(r, _):
    return r.pop()


class PushedStyleInfo:
    """lib.rs:2344-2394."""

    __slots__ = ("colour", "bgcolour", "white_space", "preformat")

    def __init__(self):
        self.colour = False
        self.bgcolour = False
        self.white_space = False
        self.preformat = False

    @classmethod
    def apply(cls, render: TextRenderer, style) -> "PushedStyleInfo":
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

    def unwind(self, renderer: TextRenderer) -> None:
        if self.bgcolour:
            renderer.pop_bgcolour()
        if self.colour:
            renderer.pop_colour()
        if self.white_space:
            renderer.pop_ws()
        if self.preformat:
            renderer.pop_preformat()


_NO_STYLE = PushedStyleInfo()
_FINISHED_NONE = Finished(None)


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


def do_render_node(renderer: TextRenderer, tree: RenderNode):
    """lib.rs:2396-2674.  Result values are Option<SubRenderer> (None or a
    sub-renderer); `NOTHING_SENTINEL` from a cons means no result.

    Size estimates are computed lazily (r07): only the node kinds that
    consume them (header/blockquote/lists/dd/table) trigger the
    bottom-up estimation pass, and only over their own subtree — a
    document (or subtree) of plain paragraphs never pays the second
    walk the eager whole-tree pre-pass cost.  Same values by
    construction: `estimate_sizes` is the same bottom-up pass, just rooted
    at the consuming node."""
    k = tree.kind
    if tree.size_estimate is None and k in _NEEDS_ESTIMATE:
        estimate_sizes(tree, *renderer.estimate_ctx)
    size_estimate = tree.size_estimate
    style = tree.style
    if style is N.DEFAULT_STYLE:
        # nothing to push, nothing to unwind
        pushed_style = _NO_STYLE
    else:
        pushed_style = PushedStyleInfo.apply(renderer, style)

    if k == N.TEXT:
        renderer.add_inline_text(tree.text)
        if pushed_style is not _NO_STYLE:
            pushed_style.unwind(renderer)
        return _FINISHED_NONE
    if k == N.CONTAINER:
        if pushed_style is _NO_STYLE:
            return Pending(tree.children, _cons_plain)

        def cons(r, _):
            pushed_style.unwind(r)
            return None

        return Pending(tree.children, cons)
    if k == N.LINK:
        renderer.start_link(tree.text)
        if pushed_style is _NO_STYLE:
            return Pending(tree.children, _cons_end_link)

        def cons(r, _):
            r.end_link()
            pushed_style.unwind(r)
            return None

        return Pending(tree.children, cons)
    if k in _INLINE_STYLES:
        start, end = _INLINE_STYLES[k]
        getattr(renderer, start)()

        def cons(r, _):
            getattr(r.top, end)()
            pushed_style.unwind(r)
            return None

        return Pending(tree.children, cons)
    if k == N.IMG:
        renderer.add_image(tree.text, tree.extra)
        pushed_style.unwind(renderer)
        return Finished(None)
    if k == N.SVG:
        renderer.add_image("", tree.extra)
        pushed_style.unwind(renderer)
        return Finished(None)
    if k in (N.BLOCK, N.LIST_ITEM):
        renderer.start_block()
        if pushed_style is _NO_STYLE:
            return Pending(tree.children, _cons_end_block)

        def cons(r, _):
            r.end_block()
            pushed_style.unwind(r)
            return None

        return Pending(tree.children, cons)
    if k == N.HEADER:
        prefix = renderer.header_prefix(tree.value)
        prefix_size = size_estimate.prefix_size
        min_width = size_estimate.min_width
        inner_width = max(min_width - prefix_size, 0)
        sub_builder = renderer.new_sub_renderer(
            renderer.width_minus(prefix_size, inner_width)
        )
        renderer.push(sub_builder)

        def cons(r, _):
            sub = r.pop()
            r.start_block()
            r.append_subrender(sub, repeat(prefix))
            r.end_block()
            pushed_style.unwind(r)
            return None

        return Pending(tree.children, cons)
    if k == N.DIV:
        renderer.new_line()

        def cons(r, _):
            r.new_line()
            pushed_style.unwind(r)
            return None

        return Pending(tree.children, cons)
    if k == N.BLOCKQUOTE:
        prefix = renderer.quote_prefix()
        inner_width = size_estimate.min_width - len(prefix)
        sub_builder = renderer.new_sub_renderer(
            renderer.width_minus(len(prefix), inner_width)
        )
        renderer.push(sub_builder)

        def cons(r, _):
            sub = r.pop()
            r.start_block()
            r.append_subrender(sub, repeat(prefix))
            r.end_block()
            pushed_style.unwind(r)
            return None

        return Pending(tree.children, cons)
    if k == N.UL:
        prefix = renderer.unordered_item_prefix()
        prefix_len = len(prefix)

        def cons(r, _):
            pushed_style.unwind(r)
            return None

        def prefn(r, _node):
            inner_width = size_estimate.min_width - prefix_len
            sub_builder = r.new_sub_renderer(
                r.width_minus(prefix_len, inner_width)
            )
            r.push(sub_builder)

        indent = " " * prefix_len

        def postfn(r, _result):
            sub = r.pop()
            r.append_subrender(sub, chain((prefix,), repeat(indent)))

        return Pending(tree.children, cons, prefn, postfn)
    if k == N.OL:
        start = tree.value
        num_items = len(tree.children)
        min_number = start
        max_number = start + num_items - 1
        prefix_width = max(
            len(renderer.ordered_item_prefix(min_number)),
            len(renderer.ordered_item_prefix(max_number)),
        )
        prefixn = " " * prefix_width
        counter = [start]

        def cons(r, _):
            pushed_style.unwind(r)
            return None

        def prefn(r, _node):
            inner_min = size_estimate.min_width - size_estimate.prefix_size
            sub_builder = r.new_sub_renderer(
                r.width_minus(prefix_width, inner_min)
            )
            r.push(sub_builder)

        def postfn(r, _result):
            sub = r.pop()
            prefix1 = r.ordered_item_prefix(counter[0])
            prefix1 = prefix1.ljust(prefix_width)
            r.append_subrender(sub, chain((prefix1,), repeat(prefixn)))
            counter[0] += 1

        return Pending(tree.children, cons, prefn, postfn)
    if k == N.DL:
        renderer.start_block()

        def cons(r, _):
            pushed_style.unwind(r)
            return None

        return Pending(tree.children, cons)
    if k == N.DT:
        renderer.new_line()
        renderer.start_emphasis()

        def cons(r, _):
            r.top.end_emphasis()
            pushed_style.unwind(r)
            return None

        return Pending(tree.children, cons)
    if k == N.DD:
        inner_min = size_estimate.min_width - 2
        sub_builder = renderer.new_sub_renderer(renderer.width_minus(2, inner_min))
        renderer.push(sub_builder)

        def cons(r, _):
            sub = r.pop()
            r.append_subrender(sub, repeat("  "))
            pushed_style.unwind(r)
            return None

        return Pending(tree.children, cons)
    if k == N.BREAK:
        renderer.new_line_hard()
        pushed_style.unwind(renderer)
        return Finished(None)
    if k == N.TABLE:
        return render_table_tree(renderer, tree.extra)
    if k == N.TABLE_ROW:
        row, vert = tree.extra
        if vert:
            return render_table_row_vert(renderer, row, pushed_style)
        return render_table_row(renderer, row, pushed_style)
    if k == N.TABLE_CELL:
        if pushed_style is _NO_STYLE:
            return Pending(tree.extra.content, _cons_cell)

        def cons(r, _):
            pushed_style.unwind(r)
            return r.pop()

        return Pending(tree.extra.content, cons)
    if k == N.FRAG_START:
        renderer.record_frag_start(tree.text)
        pushed_style.unwind(renderer)
        return Finished(None)
    if k == N.SUP:
        digits = _sup_digits(tree.children)
        if digits is not None:
            renderer.add_inline_text(digits)
            pushed_style.unwind(renderer)
            return Finished(None)
        renderer.start_superscript()

        def cons(r, _):
            r.top.end_superscript()
            pushed_style.unwind(r)
            return None

        return Pending(tree.children, cons)
    raise AssertionError(f"Unexpected node in render: {k}")


def _sup_digits(children) -> str | None:
    if len(children) != 1:
        return None
    node = children[0]
    if node.kind == N.TEXT and node.text and all(
        "0" <= d <= "9" for d in node.text
    ):
        return "".join(SUPERSCRIPTS[ord(d) - 48] for d in node.text)
    return None


def render_table_tree(renderer: TextRenderer, table):
    """Column width negotiation (lib.rs:2676-2792)."""
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
    width = renderer.width

    vert_row = renderer.top.options.raw or min_size > width or width == 0

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

    renderer.start_table()
    renderer.table_depth += 1

    if renderer.top.options.fence_tables and renderer.table_depth == 1:
        renderer.add_inline_text("```")

    if table_width != 0 and renderer.top.options.draw_borders:
        renderer.add_horizontal_border_width(table_width)

    def cons(r, _):
        if r.top.options.fence_tables and r.table_depth == 1:
            r.add_inline_text("```")
        r.table_depth -= 1
        return None

    return Pending(table.into_rows(col_widths, vert_row), cons)


def render_table_row(renderer: TextRenderer, row, pushed_style):
    """lib.rs:2794-2838."""
    rowspans = [cell.rowspan for cell in row.cells]
    have_overhang = any(cell.is_dummy for cell in row.cells)

    def cons(r, children):
        if have_overhang or any(not c.empty() for c in children):
            r.append_columns_with_borders(zip(children, rowspans), True)
        pushed_style.unwind(r)
        return None

    return Pending(row.into_cells(False), cons, _push_cell_renderer)


def render_table_row_vert(renderer: TextRenderer, row, pushed_style):
    """lib.rs:2840-2867."""

    def cons(r, children):
        r.append_vert_row(children)
        pushed_style.unwind(r)
        return None

    return Pending(row.into_cells(True), cons, _push_cell_renderer)


def _push_cell_renderer(r, node):
    r.push(r.new_sub_renderer(node.extra.col_width))


def render_tree_to_string(context, renderer: SubRenderer, decorator, tree: RenderNode) -> SubRenderer:
    """Two-pass layout (lib.rs:2298-2323); the size-estimation pass runs
    lazily per consuming subtree (see do_render_node), carried through
    the render fold via `estimate_ctx`."""
    text_renderer = TextRenderer(renderer)
    text_renderer.estimate_ctx = (context, decorator)
    tree_map_reduce(text_renderer, tree, do_render_node)
    renderer, links = text_renderer.into_inner()
    lines = renderer.finalise(links)
    if lines:
        renderer.start_block()
        renderer.fmt_links(lines)
    return renderer
