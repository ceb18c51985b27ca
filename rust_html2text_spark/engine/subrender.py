"""Renderer stack and line assembly.

Re-derives `SubRenderer`/`TextRenderer`
(/root/reference/src/render/text_renderer.rs:26-99, 1340-2290): block
separation, inline annotation stacks, strikeout text filtering, link
footnote collection, sub-render prefixing, and the table column/border
assembly (`append_columns_with_borders`, text_renderer.rs:1868-2100;
`append_vert_row`, 2102-2129).
"""

from __future__ import annotations

from collections import deque

from .errors import Fail, TooNarrow
from .taggedline import (
    BorderHoriz,
    FragmentStart,
    HORIZ_VERT,
    TaggedLine,
    TaggedString,
)
from .textutil import char_width, str_width
from .wrapped import WS_NORMAL, WrappedBlock, preserve_whitespace

IMG_IGNORE_EMPTY = "ignore_empty"
IMG_SHOW_ALWAYS = "show_always"
IMG_REPLACE = "replace"
IMG_FILENAME = "filename"


class RenderOptions:
    __slots__ = (
        "wrap_width",
        "allow_width_overflow",
        "pad_block_width",
        "raw",
        "draw_borders",
        "fence_tables",
        "wrap_links",
        "include_link_footnotes",
        "use_unicode_strikeout",
        "img_mode",
        "img_replace",
    )

    def __init__(
        self,
        wrap_width=None,
        allow_width_overflow=False,
        pad_block_width=False,
        raw=False,
        draw_borders=True,
        fence_tables=False,
        wrap_links=True,
        include_link_footnotes=False,
        use_unicode_strikeout=True,
        img_mode=IMG_IGNORE_EMPTY,
        img_replace="",
    ):
        self.wrap_width = wrap_width
        self.allow_width_overflow = allow_width_overflow
        self.pad_block_width = pad_block_width
        self.raw = raw
        self.draw_borders = draw_borders
        self.fence_tables = fence_tables
        self.wrap_links = wrap_links
        self.include_link_footnotes = include_link_footnotes
        self.use_unicode_strikeout = use_unicode_strikeout
        self.img_mode = img_mode
        self.img_replace = img_replace


def filter_text_strikeout(s: str) -> str:
    out = []
    for c in s:
        out.append(c)
        if char_width(c) > 0:
            out.append("\u0336")
    return "".join(out)


class LineSet:
    """Per-cell line state during row assembly (text_renderer.rs:1640-1677)."""

    __slots__ = ("pos", "width", "rowspan", "lines")

    def __init__(self, pos=0, width=0, rowspan=1, lines=None):
        self.pos = pos
        self.width = width
        self.rowspan = rowspan
        self.lines: deque = lines if lines is not None else deque()

    def cell_height(self) -> int:
        tot_lines = len(self.lines)
        # rowspan <= 1 covers rowspan=0 too: the reference divides here
        # unguarded (text_renderer.rs:1665-1677) and would panic on a
        # crawl page with rowspan="0" — a crash, not semantics to match
        if self.rowspan <= 1:
            return tot_lines
        return tot_lines // self.rowspan


class SubRenderer:
    __slots__ = (
        "width",
        "options",
        "lines",
        "pending_frags",
        "at_block_end",
        "wrapping",
        "decorator",
        "ann_stack",
        "_tag_cache",
        "text_filter_stack",
        "pre_depth",
        "ws_stack",
        "overhang_cells",
    )

    def __init__(self, width: int, options: RenderOptions, decorator):
        self.width = width
        self.options = options
        self.lines: deque = deque()  # TaggedLine | BorderHoriz
        self.pending_frags: list = []
        self.at_block_end = False
        self.wrapping: WrappedBlock | None = None
        self.decorator = decorator
        self.ann_stack: list = []
        self._tag_cache: tuple | None = ()
        self.text_filter_stack: list = []
        self.pre_depth = 0
        self.ws_stack: list[int] = []
        self.overhang_cells: list[LineSet] = []

    # -- internals ---------------------------------------------------------

    def _tag(self) -> tuple:
        t = self._tag_cache
        if t is None:
            t = self._tag_cache = tuple(self.ann_stack)
        return t

    def _ann_push(self, annotation) -> None:
        self.ann_stack.append(annotation)
        self._tag_cache = None

    def _ann_pop(self) -> None:
        self.ann_stack.pop()
        self._tag_cache = None

    def add_line(self, line) -> None:
        """Append a TaggedLine or a BorderHoriz."""
        if self.pending_frags:
            if type(line) is TaggedLine:
                tl = TaggedLine()
                for frag in self.pending_frags:
                    tl.push(frag)
                self.pending_frags = []
                for part in line.v:
                    tl.push(part)
                line = tl
        if self.options.pad_block_width and type(line) is TaggedLine:
            line.pad_to(self.width, self._tag())
        self.lines.append(line)

    def extend_lines(self, lines) -> None:
        for line in lines:
            self.add_line(line)

    def flush_wrapping(self) -> None:
        if self.wrapping is not None:
            w = self.wrapping
            self.wrapping = None
            frags = w.take_trailing_fragments()
            self.extend_lines(w.into_lines())
            self.pending_frags.extend(frags)

    def flush_all(self) -> None:
        self.flush_wrapping()

    def into_string(self) -> str:
        self.flush_wrapping()
        out = []
        for line in self.lines:
            out.append(line.to_string())
            out.append("\n")
        return "".join(out)

    def fmt_links(self, links: list[TaggedLine]) -> None:
        """Hard-wrap footnote lines (text_renderer.rs:1556-1600)."""
        for line in links:
            pos = 0
            wrapped_line = TaggedLine()
            for ts in line.tagged_strings():
                s = ts.s.replace("\n", " ")
                tag = (ts.tag,)
                width = str_width(s)
                if self.options.wrap_links and pos + width > self.width:
                    buf = []
                    for c in s:
                        c_width = char_width(c)
                        if c_width < 0:
                            c_width = 0
                        if pos + c_width > self.width:
                            if buf:
                                wrapped_line.push_str(
                                    TaggedString("".join(buf), tag)
                                )
                                buf = []
                            self.add_line(wrapped_line)
                            wrapped_line = TaggedLine()
                            pos = 0
                        pos += c_width
                        buf.append(c)
                    wrapped_line.push_str(TaggedString("".join(buf), tag))
                else:
                    wrapped_line.push_str(TaggedString(s, tag))
                    pos += width
            self.add_line(wrapped_line)

    def into_lines(self) -> deque:
        self.flush_wrapping()
        return self.lines

    def add_horizontal_line(self, line: BorderHoriz) -> None:
        self.flush_wrapping()
        self.add_line(line)

    def width_minus(self, prefix_len: int, min_width: int) -> int:
        new_width = max(self.width - prefix_len, 0)
        if new_width < min_width and not self.options.allow_width_overflow:
            raise TooNarrow()
        return max(new_width, min_width)

    def ws_mode(self) -> int:
        return self.ws_stack[-1] if self.ws_stack else WS_NORMAL

    def finalise(self, links: list[str]) -> list[TaggedLine]:
        if self.options.include_link_footnotes:
            return self.decorator.finalise(links)
        return self.decorator.finalise([])

    # -- Renderer trait (text_renderer.rs:1683-2290) -------------------------

    def add_empty_line(self) -> None:
        self.flush_all()
        self.add_line(TaggedLine())
        self.at_block_end = False

    def new_sub_renderer(self, width: int) -> "SubRenderer":
        result = SubRenderer(
            width, self.options, self.decorator.make_subblock_decorator()
        )
        result.ann_stack = list(self.ann_stack)
        result._tag_cache = None
        return result

    def start_block(self) -> None:
        self.flush_all()
        if any(line.has_content() for line in self.lines):
            self.add_empty_line()
        self.at_block_end = False

    def start_table(self) -> None:
        self.start_block()

    def new_line(self) -> None:
        self.flush_all()

    def new_line_hard(self) -> None:
        if self.wrapping is None:
            self.add_empty_line()
        elif self.wrapping.wordlen == 0 and self.wrapping.line.len == 0:
            self.add_empty_line()
        else:
            self.flush_all()

    def add_horizontal_border(self) -> None:
        self.flush_wrapping()
        self.add_line(BorderHoriz(self.width, self._tag()))

    def add_horizontal_border_width(self, width: int) -> None:
        self.flush_wrapping()
        self.add_line(BorderHoriz(width, self._tag()))

    def push_ws(self, ws: int) -> None:
        self.ws_stack.append(ws)

    def pop_ws(self) -> None:
        self.ws_stack.pop()

    def push_preformat(self) -> None:
        self.pre_depth += 1

    def pop_preformat(self) -> None:
        self.pre_depth -= 1

    def end_block(self) -> None:
        self.at_block_end = True

    def _get_wrapping(self) -> WrappedBlock:
        if self.wrapping is None:
            ww = self.width
            if self.options.wrap_width is not None:
                ww = min(self.options.wrap_width, self.width)
            self.wrapping = WrappedBlock(
                ww,
                self.options.pad_block_width,
                self.options.allow_width_overflow,
                self._tag(),
            )
        return self.wrapping

    def add_inline_text(self, text: str) -> None:
        ws_stack = self.ws_stack
        ws_mode = ws_stack[-1] if ws_stack else WS_NORMAL
        if self.at_block_end:
            if ws_mode == WS_NORMAL and _all_whitespace(text):
                return
            self.start_block()
        filtered_text = text
        for filt in self.text_filter_stack:
            out = filt(filtered_text)
            if out is not None:
                filtered_text = out
        wrapping = self.wrapping
        if wrapping is None:
            wrapping = self._get_wrapping()
        if self.pre_depth > 0:
            main_tag = tuple(
                self.ann_stack + [self.decorator.decorate_preformat_first()]
            )
            cont_tag = tuple(
                self.ann_stack + [self.decorator.decorate_preformat_cont()]
            )
        else:
            main_tag = self._tag()
            cont_tag = main_tag
        wrapping.add_text(filtered_text, ws_mode, main_tag, cont_tag)

    def append_subrender(self, other: "SubRenderer", prefixes) -> None:
        """text_renderer.rs:1810-1866."""
        self.flush_wrapping()
        tag = self._tag()
        for line in other.into_lines():
            prefix = next(prefixes)
            if type(line) is TaggedLine:
                if prefix:
                    line.insert_front(TaggedString(prefix, tag))
                self.add_line(line)
            else:
                tline = TaggedLine()
                tline.push_str(TaggedString(prefix, tag))
                tline.push_str(TaggedString(line.to_string(), tag))
                self.add_line(tline)

    def append_columns_with_borders(self, cols, collapse: bool) -> None:
        """text_renderer.rs:1868-2100."""
        self.flush_wrapping()
        tag = self._tag()

        tot_width = 0
        line_sets: list[LineSet] = []
        for sub_r, rowspan in cols:
            width = sub_r.width
            # the sub-renderer is spent: its line deque becomes the cell's
            lines = sub_r.into_lines()
            for line in lines:
                if type(line) is TaggedLine:
                    line.pad_to(width, tag)
                else:
                    line.stretch_to(width)
            line_sets.append(LineSet(tot_width, width, rowspan, lines))
            tot_width += width + 1

        # merge in overhang cells from previous rows
        overhangs = self.overhang_cells
        self.overhang_cells = []
        lidx = 0
        lnextpos = 0
        for ls in overhangs:
            while lidx < len(line_sets) and line_sets[lidx].pos < ls.pos:
                lpos = line_sets[lidx].pos
                lnextpos = lpos + line_sets[lidx].width + 1
                lidx += 1
            if lidx >= len(line_sets):
                if lnextpos < ls.pos:
                    line_sets.append(
                        LineSet(lnextpos, max(ls.pos - (lnextpos + 1), 0), 1)
                    )
                if ls.pos + ls.width > tot_width:
                    tot_width = ls.pos + ls.width + 1
                line_sets.append(ls)
            else:
                line_sets[lidx] = ls

        tot_width = max(tot_width - 1, 0)

        next_border = BorderHoriz(tot_width, tag)
        prev_border = self.lines[-1] if self.lines else None
        if type(prev_border) is not BorderHoriz:
            prev_border = None

        if prev_border is not None:
            pos = 0
            for ls in line_sets[: max(len(line_sets) - 1, 0)]:
                w = ls.width
                prev_border.join_below(pos + w)
                next_border.join_above(pos + w)
                pos += w + 1
            if line_sets:
                prev_border.extend_to(pos + line_sets[-1].width)

        column_padding: list = [None] * len(line_sets)

        if collapse:
            pos = 0
            for ls in line_sets:
                sublines = ls.lines
                if sublines and type(sublines[0]) is BorderHoriz:
                    if prev_border is None:
                        raise Fail("No previous border line")
                    prev_border.merge_from_below(sublines.popleft(), pos)
                pos += ls.width + 1

            pos = 0
            for col_no, ls in enumerate(line_sets):
                sublines = ls.lines
                if sublines and type(sublines[-1]) is BorderHoriz:
                    line = sublines.pop()
                    next_border.merge_from_above(line, pos)
                    column_padding[col_no] = line.to_vertical_lines_above()
                pos += ls.width + 1

        cell_height = max((ls.cell_height() for ls in line_sets), default=0)
        sep = "│" if self.options.draw_borders else " "
        spaces = " " * tot_width
        last_cellno = len(line_sets) - 1
        for i in range(cell_height):
            line = TaggedLine()
            for cellno, ls in enumerate(line_sets):
                sub = ls.lines[i] if i < len(ls.lines) else None
                if sub is None:
                    pad = column_padding[cellno]
                    if pad is None:
                        pad = spaces[: ls.width]
                        line.push_known(pad, tag, len(pad))
                    else:
                        line.push_str(TaggedString(pad, tag))
                elif type(sub) is TaggedLine:
                    line.consume(sub)
                else:
                    line.push_str(TaggedString(sub.to_string(), tag))
                if cellno != last_cellno:
                    line.push_known(sep, tag, 1)
            self.add_line(line)

        # Handle overhanging cells (rowspan > 1)
        pos = 0
        for ls in line_sets:
            if ls.rowspan > 1:
                if cell_height < len(ls.lines):
                    tmppos = pos
                    for e in ls.lines[cell_height].into_tagged_line().v:
                        w = e.width() if isinstance(e, TaggedString) else 0
                        next_border.add_text_span(tmppos, e)
                        tmppos += w
                else:
                    next_border.add_text_span(
                        pos, TaggedString(" " * ls.width, next_border.tag)
                    )
                new_len = max(len(ls.lines) - (cell_height + 1), 0)
                while len(ls.lines) > new_len:
                    ls.lines.popleft()
                self.overhang_cells.append(
                    LineSet(ls.pos, ls.width, ls.rowspan - 1, ls.lines)
                )
            pos += ls.width + 1
        if self.options.draw_borders:
            self.add_line(next_border)

    def append_vert_row(self, cols) -> None:
        """text_renderer.rs:2102-2129."""
        self.flush_wrapping()
        width = self.width
        first = True
        for col in cols:
            if first:
                first = False
            elif self.options.draw_borders:
                border = BorderHoriz(width, self._tag(), HORIZ_VERT)
                self.add_horizontal_line(border)
            self.append_subrender(col, _repeat(""))
        if self.options.draw_borders:
            self.add_horizontal_border()

    def empty(self) -> bool:
        return not self.lines and (self.wrapping is None or self.wrapping.is_empty())

    # -- inline containers ----------------------------------------------------

    def start_link(self, target: str) -> None:
        s, annotation = self.decorator.decorate_link_start(target)
        self._ann_push(annotation)
        self.add_inline_text(s)

    def end_link(self) -> None:
        s = self.decorator.decorate_link_end()
        self.add_inline_text(s)
        self._ann_pop()

    def start_emphasis(self) -> None:
        s, annotation = self.decorator.decorate_em_start()
        self._ann_push(annotation)
        self.add_inline_text(s)

    def end_emphasis(self) -> None:
        s = self.decorator.decorate_em_end()
        self.add_inline_text(s)
        self._ann_pop()

    def start_strong(self) -> None:
        s, annotation = self.decorator.decorate_strong_start()
        self._ann_push(annotation)
        self.add_inline_text(s)

    def end_strong(self) -> None:
        s = self.decorator.decorate_strong_end()
        self.add_inline_text(s)
        self._ann_pop()

    def start_strikeout(self) -> None:
        s, annotation = self.decorator.decorate_strikeout_start()
        self._ann_push(annotation)
        self.add_inline_text(s)
        if self.options.use_unicode_strikeout:
            self.text_filter_stack.append(filter_text_strikeout)

    def end_strikeout(self) -> None:
        if self.options.use_unicode_strikeout:
            self.text_filter_stack.pop()
        s = self.decorator.decorate_strikeout_end()
        self.add_inline_text(s)
        self._ann_pop()

    def start_code(self) -> None:
        s, annotation = self.decorator.decorate_code_start()
        self._ann_push(annotation)
        self.add_inline_text(s)

    def end_code(self) -> None:
        s = self.decorator.decorate_code_end()
        self.add_inline_text(s)
        self._ann_pop()

    def add_image(self, src: str, title: str) -> None:
        mode = self.options.img_mode
        if title == "":
            if mode == IMG_IGNORE_EMPTY:
                return
            if mode == IMG_FILENAME:
                slash = src.rfind("/")
                sub_title = src[slash + 1 :] if slash >= 0 else src
                s, tag = self.decorator.decorate_image(src, sub_title)
            elif mode == IMG_SHOW_ALWAYS:
                s, tag = self.decorator.decorate_image(src, title)
            else:  # replace
                s, tag = self.decorator.decorate_image(src, self.options.img_replace)
        else:
            s, tag = self.decorator.decorate_image(src, title)
        self._ann_push(tag)
        self.add_inline_text(s)
        self._ann_pop()

    def header_prefix(self, level: int) -> str:
        return self.decorator.header_prefix(level)

    def quote_prefix(self) -> str:
        return self.decorator.quote_prefix()

    def unordered_item_prefix(self) -> str:
        return self.decorator.unordered_item_prefix()

    def ordered_item_prefix(self, i: int) -> str:
        return self.decorator.ordered_item_prefix(i)

    def record_frag_start(self, fragname: str) -> None:
        self._get_wrapping().add_element(FragmentStart(fragname))

    def push_colour(self, colour) -> None:
        ann = self.decorator.push_colour(colour)
        if ann is not None:
            self._ann_push(ann)

    def pop_colour(self) -> None:
        if self.decorator.pop_colour():
            self._ann_pop()

    def push_bgcolour(self, colour) -> None:
        ann = self.decorator.push_bgcolour(colour)
        if ann is not None:
            self._ann_push(ann)

    def pop_bgcolour(self) -> None:
        if self.decorator.pop_bgcolour():
            self._ann_pop()

    def start_superscript(self) -> None:
        s, annotation = self.decorator.decorate_superscript_start()
        self._ann_push(annotation)
        self.add_inline_text(s)

    def end_superscript(self) -> None:
        s = self.decorator.decorate_superscript_end()
        self.add_inline_text(s)
        self._ann_pop()


from .textutil import is_unicode_whitespace as _is_uws

import re as _re2

_ASCII_WS_ONLY = _re2.compile(r"[ \t\n\r\x0b\x0c]*\Z")


def _all_whitespace(text: str) -> bool:
    if _ASCII_WS_ONLY.match(text):
        return True
    return all(_is_uws(c) for c in text)


def _repeat(value):
    while True:
        yield value


class TextRenderer:
    """Stack of SubRenderers + global link collection (text_renderer.rs:26-99).

    The reference reaches the top sub-renderer through Deref; here the
    render walk calls `subrender[-1]` itself, and only the calls that
    touch the link list go through this class."""

    __slots__ = ("subrender", "links", "table_depth", "estimate_ctx")

    def __init__(self, subrenderer: SubRenderer):
        self.subrender = [subrenderer]
        self.links: list[str] = []
        self.table_depth = 0
        # (context, decorator) for the lazy size-estimation fold
        self.estimate_ctx = None

    def start_link(self, target: str) -> None:
        self.links.append(target)
        self.subrender[-1].start_link(target)

    def end_link(self) -> None:
        top = self.subrender[-1]
        top.end_link()
        if top.options.include_link_footnotes:
            top.add_inline_text(f"[{len(self.links)}]")

    def into_inner(self):
        assert len(self.subrender) == 1
        return self.subrender.pop(), self.links
