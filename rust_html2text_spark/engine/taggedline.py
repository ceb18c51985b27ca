"""Tagged output lines and table border lines.

Re-derives the output-line model of the reference renderer
(/root/reference/src/render/text_renderer.rs:101-1290): a line is a list of
(string, tag) spans plus zero-width fragment markers; a border line is a list
of box-drawing segments with joins and "holes" (rowspan text punching
through).  A renderer's output is a sequence of both kinds (the reference's
`RenderLine`, text_renderer.rs:1292-1340), told apart by type.  Tags are
plain Python tuples so equality/coalescing matches the Rust
`Vec<Annotation>` semantics.
"""

from __future__ import annotations

from .textutil import char_width, str_width

# --- tagged string / line -------------------------------------------------


class TaggedString:
    __slots__ = ("s", "tag")

    def __init__(self, s: str, tag):
        self.s = s
        self.tag = tag

    def width(self) -> int:
        return str_width(self.s)

    def __repr__(self):
        return f"TaggedString({self.s!r}, {self.tag!r})"


class FragmentStart:
    """Zero-width marker for the start of a named HTML fragment."""

    __slots__ = ("name",)

    def __init__(self, name: str):
        self.name = name

    def __repr__(self):
        return f"FragmentStart({self.name!r})"


class TaggedLine:
    """A line of tagged spans (text_renderer.rs:185-455)."""

    __slots__ = ("v", "len")

    def __init__(self):
        self.v: list = []
        self.len = 0

    @classmethod
    def from_string(cls, s: str, tag) -> "TaggedLine":
        tl = cls()
        tl.v.append(TaggedString(s, tag))
        tl.len = str_width(s)
        return tl

    def to_string(self) -> str:
        return "".join(e.s for e in self.v if isinstance(e, TaggedString))

    def is_empty(self) -> bool:
        for e in self.v:
            if isinstance(e, TaggedString):
                return False
        return True

    def push_str(self, ts: TaggedString) -> None:
        s = ts.s
        if s:
            # inline ASCII fast path of str_width (hot: every span push)
            if s.isascii() and s.isprintable():
                self.len += len(s)
            else:
                self.len += str_width(s)
            if self.v:
                prev = self.v[-1]
                if type(prev) is TaggedString and prev.tag == ts.tag:
                    prev.s += s
                    return
            self.v.append(ts)

    def push_known(self, s: str, tag, width: int) -> None:
        """push_str for callers that already know the display width."""
        self.len += width
        if self.v:
            prev = self.v[-1]
            if type(prev) is TaggedString and prev.tag == tag:
                prev.s += s
                return
        self.v.append(TaggedString(s, tag))

    def push(self, elt) -> None:
        if type(elt) is TaggedString:
            self.push_str(elt)
        else:
            self.v.append(elt)

    def push_ws(self, length: int, tag) -> None:
        self.push_str(TaggedString(" " * length, tag))

    def insert_front(self, ts: TaggedString) -> None:
        self.len += str_width(ts.s)
        if self.v:
            first = self.v[0]
            if isinstance(first, TaggedString) and first.tag == ts.tag:
                first.s = ts.s + first.s
                return
        self.v.insert(0, ts)

    def push_char(self, c: str, tag) -> None:
        w = char_width(c)
        if w > 0:
            self.len += w
        if self.v:
            prev = self.v[-1]
            if type(prev) is TaggedString and prev.tag == tag:
                prev.s += c
                return
        self.v.append(TaggedString(c, tag))

    def consume(self, other: "TaggedLine") -> None:
        for e in other.v:
            self.push(e)
        other.v = []
        other.len = 0

    def map_tag(self, f) -> "TaggedLine":
        out = TaggedLine()
        out.len = self.len
        for e in self.v:
            if isinstance(e, TaggedString):
                out.v.append(TaggedString(e.s, f(e.tag)))
            else:
                out.v.append(e)
        return out

    def remove_items(self) -> list:
        self.len = 0
        items = self.v
        self.v = []
        return items

    def tagged_strings(self):
        return [e for e in self.v if isinstance(e, TaggedString)]

    def width(self) -> int:
        return sum(ts.width() for ts in self.tagged_strings())

    def pad_to(self, width: int, tag) -> None:
        if width > self.len:
            self.push_known(" " * (width - self.len), tag, width - self.len)

    def into_tagged_line(self) -> "TaggedLine":
        return self

    def has_content(self) -> bool:
        return not self.is_empty()

    def remove_leading_whitespace(self) -> None:
        """text_renderer.rs:415-447 (PreWrap wrap-point trimming)."""
        pieces_to_remove = 0
        width_removed = 0
        for element in self.v:
            if isinstance(element, TaggedString):
                trimmed = element.s.lstrip()
                tlen = len(trimmed)
                toffset = len(element.s) - tlen
                if toffset == 0:
                    break
                if tlen == 0:
                    pieces_to_remove += 1
                    width_removed += element.width()
                else:
                    orig_width = element.width()
                    element.s = trimmed
                    width_removed += orig_width - element.width()
                    break
            else:
                break
        if pieces_to_remove > 0:
            self.v = self.v[pieces_to_remove:]
        self.len -= width_removed

    def remove_trailing_spaces(self) -> None:
        while self.v:
            piece = self.v[-1]
            if not isinstance(piece, TaggedString):
                break
            trimmed = piece.s.rstrip(" ")
            tlen = len(trimmed)
            if tlen == 0:
                self.len -= piece.width()
                self.v.pop()
            elif tlen == len(piece.s):
                break
            else:
                self.len -= piece.width() - str_width(trimmed)
                piece.s = trimmed
                break


# --- border lines -----------------------------------------------------------

# Border segments (text_renderer.rs:948-976)
HORIZ = 0
JOIN_ABOVE = 1
JOIN_BELOW = 2
JOIN_CROSS = 3
VERT = 4
HORIZ_VERT = 5
JOIN_LEFT = 6
JOIN_RIGHT = 7
CORNER_TL = 8
CORNER_TR = 9
CORNER_BL = 10
CORNER_BR = 11

_SEG_CHAR = "─┴┬┼│/┤├┌┐└┘"
_seg_chars = _SEG_CHAR.__getitem__

_CHOP_LEFT = {
    JOIN_BELOW: CORNER_TL,
    JOIN_ABOVE: CORNER_BL,
    JOIN_CROSS: JOIN_RIGHT,
    JOIN_LEFT: VERT,
    CORNER_TR: VERT,
    CORNER_BR: VERT,
}

_CHOP_RIGHT = {
    JOIN_BELOW: CORNER_TR,
    JOIN_ABOVE: CORNER_BR,
    JOIN_CROSS: JOIN_LEFT,
    JOIN_RIGHT: VERT,
    CORNER_TL: VERT,
    CORNER_BL: VERT,
}

_JOIN_ABOVE_MAP = {
    HORIZ: JOIN_ABOVE,
    JOIN_ABOVE: JOIN_ABOVE,
    JOIN_BELOW: JOIN_CROSS,
    JOIN_CROSS: JOIN_CROSS,
    VERT: VERT,
    JOIN_LEFT: JOIN_LEFT,
    JOIN_RIGHT: JOIN_RIGHT,
    CORNER_TL: JOIN_RIGHT,
    CORNER_TR: JOIN_LEFT,
    CORNER_BL: CORNER_BL,
    CORNER_BR: CORNER_BR,
    HORIZ_VERT: HORIZ_VERT,
}

_JOIN_BELOW_MAP = {
    HORIZ: JOIN_BELOW,
    JOIN_BELOW: JOIN_BELOW,
    JOIN_ABOVE: JOIN_CROSS,
    JOIN_CROSS: JOIN_CROSS,
    VERT: VERT,
    JOIN_LEFT: JOIN_LEFT,
    JOIN_RIGHT: JOIN_RIGHT,
    CORNER_TL: CORNER_TL,
    CORNER_TR: CORNER_TR,
    CORNER_BL: JOIN_RIGHT,
    CORNER_BR: JOIN_LEFT,
    HORIZ_VERT: HORIZ_VERT,
}

# Segments carrying a below-join (merge_from_below, text_renderer.rs:1121-1131)
_HAS_JOIN = frozenset({JOIN_ABOVE, JOIN_BELOW, JOIN_CROSS, CORNER_BL, CORNER_BR})
_HAS_JOIN_ABOVE = frozenset({JOIN_ABOVE, JOIN_BELOW, JOIN_CROSS, CORNER_TL, CORNER_TR})


class BorderHoriz:
    """A dividing line between table rows (text_renderer.rs:1038-1290)."""

    __slots__ = ("segments", "tag", "holes")

    def __init__(self, width: int, tag, linetype: int = HORIZ):
        self.segments = [linetype] * width
        self.tag = tag
        self.holes: list = []  # (pos, TaggedString/FragmentStart)

    def stretch_to(self, width: int) -> None:
        while width > len(self.segments):
            self.segments.append(HORIZ)

    def join_above(self, x: int) -> None:
        self.stretch_to(x + 1)
        self.segments[x] = _JOIN_ABOVE_MAP[self.segments[x]]

    def join_below(self, x: int) -> None:
        self.stretch_to(x + 1)
        self.segments[x] = _JOIN_BELOW_MAP[self.segments[x]]

    def merge_from_below(self, other: "BorderHoriz", pos: int) -> None:
        for idx, seg in enumerate(other.segments):
            if seg in _HAS_JOIN:
                self.join_below(idx + pos)

    def merge_from_above(self, other: "BorderHoriz", pos: int) -> None:
        for idx, seg in enumerate(other.segments):
            if seg in _HAS_JOIN_ABOVE:
                self.join_above(idx + pos)

    def to_vertical_lines_above(self) -> str:
        return "".join(
            "│" if seg in (JOIN_ABOVE, JOIN_CROSS, CORNER_BL, CORNER_BR) else " "
            for seg in self.segments
        )

    def add_text_span(self, pos: int, t) -> None:
        # chop the right join of the left neighbour, and the left join of
        # the right neighbour (text_renderer.rs:1163-1177)
        if pos > 0 and pos - 1 < len(self.segments):
            seg = self.segments[pos - 1]
            self.segments[pos - 1] = _CHOP_RIGHT.get(seg, seg)
        w = t.width() if isinstance(t, TaggedString) else 0
        rpos = pos + w
        if rpos < len(self.segments):
            seg = self.segments[rpos]
            self.segments[rpos] = _CHOP_LEFT.get(seg, seg)
        self.holes.append((pos, t))

    def to_string(self) -> str:
        out = []
        pos = 0
        for holepos, hole in self.holes:
            out.append("".join(map(_seg_chars, self.segments[pos:holepos])))
            pos = holepos
            if isinstance(hole, TaggedString):
                out.append(hole.s)
                pos += hole.width()
        if pos < len(self.segments):
            out.append("".join(map(_seg_chars, self.segments[pos:])))
        return "".join(out)

    def extend_to(self, length: int) -> None:
        while len(self.segments) < length:
            self.segments.append(HORIZ)

    def has_content(self) -> bool:
        # NB: reference quirk — a border *without* holes counts as content
        # (text_renderer.rs:1330-1339).
        return not self.holes

    def into_tagged_line(self) -> TaggedLine:
        result = TaggedLine()
        pos = 0
        tag = self.tag
        for holepos, hole in self.holes:
            if holepos > pos:
                s = "".join(map(_seg_chars, self.segments[pos:holepos]))
                result.push_str(TaggedString(s, tag))
                pos = holepos
            if isinstance(hole, TaggedString):
                pos += hole.width()
            result.push(hole)
        if pos < len(self.segments):
            s = "".join(map(_seg_chars, self.segments[pos:]))
            result.push_str(TaggedString(s, tag))
        return result
