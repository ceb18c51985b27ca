"""Render-tree node model and size estimation.

Re-derives `RenderNodeInfo` (/root/reference/src/lib.rs:730-785),
`SizeEstimate` (lib.rs:421-460), table normalization
(lib.rs:576-725: colspan remap, rowspan overhang dummies) and per-node size
estimation (lib.rs:820-940, calc_ol_prefix_size lib.rs:3455-3465).
"""

from __future__ import annotations

import re as _re

from .styles import ComputedStyle, DEFAULT_STYLE
from .textutil import always_takes_space, char_width, str_width, trim_collapsible_ws

# printable ASCII + the ASCII whitespace subset of Unicode White_Space
_SAFE_ASCII = _re.compile(r"[ -~\t\n\r\x0b\x0c]*")
_ASCII_WS_CHARS = " \t\n\r\x0b\x0c"

# node kinds
TEXT = "Text"
CONTAINER = "Container"
LINK = "Link"
EM = "Em"
STRONG = "Strong"
STRIKEOUT = "Strikeout"
CODE = "Code"
IMG = "Img"
SVG = "Svg"
BLOCK = "Block"
HEADER = "Header"
DIV = "Div"
BLOCKQUOTE = "BlockQuote"
UL = "Ul"
OL = "Ol"
DL = "Dl"
DT = "Dt"
DD = "Dd"
BREAK = "Break"
TABLE = "Table"
TABLE_BODY = "TableBody"
TABLE_ROW = "TableRow"
TABLE_CELL = "TableCell"
FRAG_START = "FragStart"
LIST_ITEM = "ListItem"
SUP = "Sup"

_CONTAINERISH = frozenset(
    {CONTAINER, EM, STRONG, STRIKEOUT, CODE, BLOCK, DIV, DL, DT, LIST_ITEM, SUP}
)


class SizeEstimate:
    __slots__ = ("size", "min_width", "prefix_size")

    def __init__(self, size=0, min_width=0, prefix_size=0):
        self.size = size
        self.min_width = min_width
        self.prefix_size = prefix_size

    def __repr__(self):
        return f"SizeEstimate({self.size},{self.min_width},{self.prefix_size})"


class RenderNode:
    __slots__ = ("kind", "text", "children", "value", "extra", "style", "size_estimate")

    def __init__(self, kind, children=None, text=None, value=None, extra=None, style=None):
        self.kind = kind
        self.text = text  # Text contents / Link href / Img src / Svg & Img title
        self.children = children if children is not None else []
        self.value = value  # Header level / Ol start
        self.extra = extra  # Img title / Table object / TableRow vert flag
        self.style = style if style is not None else DEFAULT_STYLE
        self.size_estimate: SizeEstimate | None = None

    def is_shallow_empty(self) -> bool:
        """lib.rs:1024-1066."""
        k = self.kind
        if k in (TEXT, IMG, SVG):
            t = self.text if k == TEXT else (self.extra or "")
            return len(t.strip()) == 0
        if k == BREAK or k == FRAG_START:
            return True
        if k in (TABLE, TABLE_ROW, TABLE_BODY, TABLE_CELL):
            return False
        return len(self.children) == 0

    def calc_size_estimate(self, context, decorator) -> SizeEstimate:
        """lib.rs:820-940.  The children must already be estimated
        (render.estimate_sizes visits them first)."""
        k = self.kind
        if k in (TEXT, IMG, SVG):
            t = self.text if k == TEXT else (self.extra or "")
            if t.isascii() and _SAFE_ASCII.fullmatch(t):
                # ASCII fast path: every non-ws char is width 1 and every
                # internal whitespace run collapses to 1 cell.
                words = t.split()
                length = len(" ".join(words))
                if length and t[0] in _ASCII_WS_CHARS:
                    length += 1
            else:
                length = 0
                in_whitespace = False
                for c in trim_collapsible_ws(t):
                    is_collapsible_ws = not always_takes_space(c)
                    if not is_collapsible_ws:
                        w = char_width(c)
                        if w > 0:
                            length += w
                        if in_whitespace:
                            length += 1
                    in_whitespace = is_collapsible_ws
                if t and not always_takes_space(t[0]) and length > 0:
                    length += 1
            if k == IMG:
                length += 2
            est = SizeEstimate(length, min(length, context.min_wrap_width), 0)
        elif k == TABLE:
            est = self.extra.calc_size_estimate(context)
        elif k == BREAK:
            est = SizeEstimate(1, 1, 0)
        elif k == FRAG_START:
            est = SizeEstimate()
        else:
            # children stack vertically: sizes add, min widths take the max
            size = 0
            min_width = 0
            for child in self.children:
                e = child.size_estimate
                size += e.size
                if e.min_width > min_width:
                    min_width = e.min_width
            if k in _CONTAINERISH:
                prefix = 0
            elif k == LINK:
                size += 5
                min_width = max(min_width, 5)
                prefix = 0
            elif k == DD:
                prefix = 2
            elif k == BLOCKQUOTE:
                prefix = str_width(decorator.quote_prefix())
            elif k == UL:
                prefix = str_width(decorator.unordered_item_prefix())
            elif k == OL:
                prefix = calc_ol_prefix_size(self.value, len(self.children), decorator)
            elif k == HEADER:
                prefix = len(decorator.header_prefix(self.value).encode("utf-8"))
            else:
                raise AssertionError(f"calc_size_estimate on {k}")
            # a prefix sits beside the content: it adds to both
            est = SizeEstimate(size + prefix, min_width + prefix, prefix)
        self.size_estimate = est
        return est


def calc_ol_prefix_size(start: int, num_items: int, decorator) -> int:
    """lib.rs:3455-3465 — byte length of the widest item prefix."""
    min_number = start
    max_number = start + num_items - 1
    w_min = len(decorator.ordered_item_prefix(min_number).encode("utf-8"))
    w_max = len(decorator.ordered_item_prefix(max_number).encode("utf-8"))
    return max(w_min, w_max)


# --- tables -------------------------------------------------------------------


class RenderTableCell:
    __slots__ = (
        "colspan",
        "rowspan",
        "content",
        "size_estimate",
        "col_width",
        "x_pos",
        "style",
        "is_dummy",
    )

    def __init__(self, colspan, rowspan, content, style, is_dummy=False):
        self.colspan = colspan
        self.rowspan = rowspan
        self.content = content
        self.size_estimate: SizeEstimate | None = None
        self.col_width = None
        self.x_pos = None
        self.style = style
        self.is_dummy = is_dummy

    @classmethod
    def dummy(cls, colspan) -> "RenderTableCell":
        cell = cls(colspan, 1, [], DEFAULT_STYLE, is_dummy=True)
        cell.size_estimate = SizeEstimate()
        return cell

    def get_size_estimate(self) -> SizeEstimate:
        if self.size_estimate is None:
            self.size_estimate = SizeEstimate(
                sum(node.size_estimate.size for node in self.content),
                max((node.size_estimate.min_width for node in self.content), default=0),
                0,
            )
        return self.size_estimate


class RenderTableRow:
    __slots__ = ("cells", "col_sizes", "style")

    def __init__(self, cells, style):
        self.cells: list[RenderTableCell] = cells
        self.col_sizes = None
        self.style = style

    def num_cells(self) -> int:
        return sum(max(cell.colspan, 1) for cell in self.cells)

    def into_cells(self, vertical: bool) -> list[RenderNode]:
        """lib.rs:534-562 — annotate cells with widths, skip zero-width."""
        result = []
        colno = 0
        col_sizes = self.col_sizes
        x_pos = 0
        for cell in self.cells:
            colspan = cell.colspan
            if vertical:
                col_width = col_sizes[colno]
            else:
                col_width = sum(col_sizes[colno : colno + cell.colspan])
            if col_width > 0:
                this_col_width = col_width + cell.colspan - 1
                cell.col_width = this_col_width
                cell.x_pos = x_pos
                x_pos += this_col_width + 1
                result.append(
                    RenderNode(TABLE_CELL, extra=cell, style=cell.style)
                )
            colno += colspan
        return result


class RenderTable:
    __slots__ = ("rows", "num_columns", "size_estimate")

    def __init__(self, rows: list[RenderTableRow]):
        """Normalize: rowspan overhang dummies + dense colspan remap
        (lib.rs:576-660)."""
        col_positions = {0}
        overhang_cells: list[list[int]] = []  # [rows_left, colpos, colspan], reversed
        next_overhang_cells: list[list[int]] = []
        for row in rows:
            col = 0
            new_cells: list[RenderTableCell] = []
            for cell in row.cells:
                while overhang_cells:
                    hanging = overhang_cells[-1]
                    if hanging[1] <= col:
                        new_cells.append(RenderTableCell.dummy(hanging[2]))
                        col += hanging[2]
                        col_positions.add(col)
                        used = overhang_cells.pop()
                        if used[0] > 1:
                            used[0] -= 1
                            next_overhang_cells.append(used)
                    else:
                        break
                if cell.rowspan > 1:
                    next_overhang_cells.append([cell.rowspan - 1, col, cell.colspan])
                col += cell.colspan
                col_positions.add(col)
                new_cells.append(cell)
            while overhang_cells:
                hanging = overhang_cells.pop()
                new_cells.append(RenderTableCell.dummy(hanging[2]))
                col += hanging[2]
                col_positions.add(col)
                if hanging[0] > 1:
                    hanging[0] -= 1
                    next_overhang_cells.append(hanging)
            row.cells = new_cells
            overhang_cells = next_overhang_cells
            next_overhang_cells = []
            overhang_cells.reverse()

        colmap = {pos: i for i, pos in enumerate(sorted(col_positions))}
        for row in rows:
            pos = 0
            mapped_pos = 0
            for cell in row.cells:
                nextpos = pos + max(cell.colspan, 1)
                next_mapped_pos = colmap[nextpos]
                cell.colspan = next_mapped_pos - mapped_pos
                pos = nextpos
                mapped_pos = next_mapped_pos

        self.rows = rows
        self.num_columns = max((r.num_cells() for r in rows), default=0)
        self.size_estimate: SizeEstimate | None = None

    def into_rows(self, col_sizes: list[int], vert: bool) -> list[RenderNode]:
        out = []
        for tr in self.rows:
            tr.col_sizes = list(col_sizes)
            out.append(RenderNode(TABLE_ROW, extra=(tr, vert), style=tr.style))
        return out

    def calc_size_estimate(self, context) -> SizeEstimate:
        """lib.rs:688-725."""
        if self.num_columns == 0:
            result = SizeEstimate()
            self.size_estimate = result
            return result
        sizes = [SizeEstimate() for _ in range(self.num_columns)]
        for row in self.rows:
            colno = 0
            for cell in row.cells:
                cellsize = cell.get_size_estimate()
                for colnum in range(cell.colspan):
                    s = sizes[colno + colnum]
                    s.size += cellsize.size // cell.colspan
                    s.min_width = max(s.min_width, cellsize.min_width // cell.colspan)
                colno += cell.colspan
        size = sum(s.size for s in sizes) + max(self.num_columns - 1, 0)
        min_width = sum(s.min_width for s in sizes) + self.num_columns - 1
        result = SizeEstimate(size, min_width, 0)
        self.size_estimate = result
        return result
