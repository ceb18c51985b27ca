"""Greedy word-wrap engine.

Re-derives `WrappedBlock` (/root/reference/src/render/text_renderer.rs:453-828):
whitespace collapse in Normal mode, preservation in Pre/PreWrap, tab stops of
8, NBSP as a hard character, ZWSP as a pure break point, and hard char-level
wrapping of overlong words with TooNarrow on unsplittable wide chars.

White-space modes are carried per-span as `(tag, ws_mode)` tuples, matching
the Rust `WithWhiteSpace<T>` wrapper.
"""

from __future__ import annotations

from .errors import TooNarrow
from .taggedline import FragmentStart, TaggedLine, TaggedString
from .textutil import (
    always_takes_space,
    char_width,
    is_unicode_whitespace,
    is_wordbreak_point,
)

WS_NORMAL = 0
WS_PRE = 1
WS_PRE_WRAP = 2

import re as _re

# printable-ASCII word run (+optional trailing ASCII ws) | ws run | other char
_NORMAL_RUNS = _re.compile(
    r"([!-~]+)([ \t\n\r\x0b\x0c]+)?|([ \t\n\r\x0b\x0c]+)|(.)", _re.S
)
# a text made ONLY of printable ASCII + ASCII whitespace: eligible for the
# line-at-a-time bulk path (every char is width-1, every ws run collapses)
_SIMPLE_TEXT = _re.compile(r"[!-~ \t\n\r\x0b\x0c]*\Z")
_ASCII_WS = " \t\n\r\x0b\x0c"
_WORD_RUN = _re.compile(r"[!-~]+")
# pre mode: printable run | space run | other (incl \n, \t, unicode)
_PRE_RUNS = _re.compile(r"([!-~]+)|( +)|(.)", _re.S)


def preserve_whitespace(ws_mode: int) -> bool:
    return ws_mode != WS_NORMAL


class WrappedBlock:
    __slots__ = (
        "width",
        "text",
        "line",
        "spacetag",
        "word",
        "wordlen",
        "wslen",
        "pre_wrapped",
        "pad_blocks",
        "allow_overflow",
        "default_tag",
    )

    def __init__(self, width: int, pad_blocks: bool, allow_overflow: bool, default_tag):
        self.width = width
        self.text: list[TaggedLine] = []
        self.line = TaggedLine()  # spans tagged (tag, ws_mode)
        self.spacetag = None  # (tag, ws_mode) for whitespace before current word
        self.word = TaggedLine()
        self.wordlen = 0
        self.wslen = 0
        self.pre_wrapped = False
        self.pad_blocks = pad_blocks
        self.allow_overflow = allow_overflow
        self.default_tag = default_tag

    # -- flushing ------------------------------------------------------------

    def flush_word(self) -> None:
        if not self.word.is_empty():
            ws_mode = WS_NORMAL
            for e in self.word.v:
                if isinstance(e, TaggedString):
                    ws_mode = e.tag[1]
                    break
            self.pre_wrapped = False
            space_in_line = self.width - self.line.len
            space_needed = self.wslen + self.wordlen
            if space_needed <= space_in_line:
                if self.wslen > 0:
                    tag = self.spacetag
                    self.spacetag = None
                    self.line.push(TaggedString(" " * self.wslen, tag))
                    self.wslen = 0
                self.line.consume(self.word)
            else:
                if self.spacetag is not None:
                    st_mode = self.spacetag[1]
                    if st_mode == WS_PRE:
                        # Not word-wrapping: output whatever whitespace fits.
                        if self.wslen >= space_in_line:
                            self.wslen -= space_in_line
                        elif self.wslen > 0:
                            tag = self.spacetag
                            self.spacetag = None
                            self.line.push_ws(self.wslen, tag)
                            self.wslen = 0
                    elif st_mode == WS_NORMAL:
                        self.spacetag = None
                        self.wslen = 0
                    else:  # WS_PRE_WRAP
                        self.spacetag = None
                        self.wslen = 0
                        self.word.remove_leading_whitespace()
                        self.line.remove_trailing_spaces()
                self.flush_line()

                if ws_mode == WS_PRE:
                    self.pre_wrapped = True

                while self.wslen > 0:
                    to_copy = min(self.wslen, self.width)
                    self.line.push_ws(to_copy, self.spacetag)
                    if to_copy == self.width:
                        self.flush_line()
                    self.wslen -= to_copy
                self.spacetag = None

                self.flush_word_hard_wrap()
        self.wordlen = 0

    def flush_word_hard_wrap(self) -> None:
        """text_renderer.rs:589-644."""
        lineleft = self.width - self.line.len
        for element in self.word.remove_items():
            if isinstance(element, TaggedString):
                piece_s = element.s
                piece_tag = element.tag
                # every char of a printable-ASCII piece is one cell wide,
                # so a cut that leaves room on the line falls at lineleft
                one_cell = piece_s.isascii() and piece_s.isprintable()
                w = len(piece_s) if one_cell else element.width()
                wpos = 0
                bpos = 0  # char index of already-copied pieces
                while w - wpos > lineleft:
                    split_idx = 0
                    if one_cell and lineleft > 0:
                        split_idx = lineleft
                        wpos += lineleft
                    else:
                        for idx, c in enumerate(piece_s[bpos:]):
                            c_w = char_width(c)
                            if c_w <= lineleft:
                                lineleft -= c_w
                                wpos += c_w
                            else:
                                if idx == 0 and self.line.width() == 0:
                                    if self.allow_overflow:
                                        split_idx = 1
                                        wpos += c_w
                                        break
                                    raise TooNarrow()
                                split_idx = idx
                                break
                    self.line.push(
                        TaggedString(piece_s[bpos : bpos + split_idx], piece_tag)
                    )
                    bpos += split_idx
                    self.force_flush_line()
                    lineleft = self.width
                if bpos == 0:
                    self.line.push(element)
                    lineleft -= w
                elif bpos < len(piece_s):
                    self.line.push(TaggedString(piece_s[bpos:], piece_tag))
                    lineleft -= max(w - wpos, 0)

    def flush_line(self) -> None:
        if not self.line.is_empty():
            self.force_flush_line()

    def force_flush_line(self) -> None:
        tmp_line = self.line
        self.line = TaggedLine()
        if self.pad_blocks:
            tmp_line.pad_to(self.width, (self.default_tag, WS_NORMAL))
        # strip the (tag, ws_mode) wrapper in place: the spans are owned
        # exclusively by this line at flush time, so mutating beats the
        # map_tag copy (two allocs per flushed line)
        for e in tmp_line.v:
            if type(e) is TaggedString:
                e.tag = e.tag[0]
        self.text.append(tmp_line)

    def flush(self) -> None:
        self.flush_word()
        self.flush_line()

    def take_trailing_fragments(self) -> list:
        if self.word.is_empty():
            items = self.word.v
            self.word = TaggedLine()
            return list(items)
        return []

    def into_lines(self) -> list[TaggedLine]:
        self.flush()
        return self.text

    # -- input ---------------------------------------------------------------

    def add_text(self, text: str, ws_mode: int, main_tag, wrap_tag) -> None:
        """text_renderer.rs:708-814."""
        tag = wrap_tag if self.pre_wrapped else main_tag
        if ws_mode == WS_NORMAL:
            # Fast path: in Normal mode the tag never switches mid-call and
            # ASCII runs collapse to two bulk operations. Semantics are
            # identical to the per-char loop below.
            self._add_text_normal(text, tag)
            return
        if ws_mode == WS_PRE and main_tag == wrap_tag:
            # Fast path: when the wrap-continuation tag equals the main tag
            # (plain/trivial decorators), the mid-word tag switch is
            # invisible and ASCII runs can be appended in bulk.
            self._add_text_pre_sametag(text, main_tag)
            return
        for c in text:
            if is_wordbreak_point(c) and self.wordlen > 0 and ws_mode != WS_PRE:
                self.flush_word()

            if c == "\u200b":
                continue
            if not always_takes_space(c):
                if preserve_whitespace(ws_mode):
                    if c == "\n":
                        self.flush_word()
                        self.force_flush_line()
                        self.wslen = 0
                        self.spacetag = None
                        self.pre_wrapped = False
                        tag = main_tag
                    elif c == "\t":
                        self.flush_word()
                        if self.width == 0:
                            # zero-width target (a table cell squeezed out
                            # by huge colspans): no space can ever fit, so
                            # the reference's loop below never terminates
                            # (text_renderer.rs:759-773 spins forever — a
                            # hang on hostile crawl input, not semantics).
                            continue
                        tab_stop = 8
                        pos = self.line.len + self.wordlen + self.wslen
                        at_least_one_space = False
                        while pos % tab_stop != 0 or not at_least_one_space:
                            if pos >= self.width:
                                self.flush_line()
                                pos = 0
                            else:
                                self.line.push_char(" ", (tag, ws_mode))
                                pos += 1
                                at_least_one_space = True
                    else:
                        cwidth = char_width(c)
                        if cwidth >= 0:
                            if self.word.is_empty() and is_unicode_whitespace(c):
                                self.wslen += cwidth
                                self.spacetag = (tag, ws_mode)
                            else:
                                self.word.push_char(c, (tag, ws_mode))
                                self.wordlen += cwidth
                else:
                    if self.line.len > 0 and self.wslen == 0:
                        self.spacetag = (tag, ws_mode)
                        self.wslen = 1
            else:
                cwidth = char_width(c)
                if cwidth >= 0:
                    self.wordlen += cwidth
                    if ws_mode == WS_PRE and (
                        self.line.len + self.wslen + self.wordlen > self.width
                    ):
                        self.pre_wrapped = True
                        tag = wrap_tag
                    self.word.push_char(c, (tag, ws_mode))

    def _add_text_normal(self, text: str, tag) -> None:
        """Bulk variant of add_text for WhiteSpace::Normal.

        Complete printable-ASCII words followed by ASCII whitespace are
        placed straight onto the line (one span push per word, no word
        buffer round-trip) \u2014 byte-identical to flush_word's fitting /
        overflow / hard-wrap branches for single-tag width-1 words.
        Partial words (start/end of the call, or adjacent to non-ASCII
        chars) go through the exact buffered path.
        """
        wtag = (tag, WS_NORMAL)
        width = self.width
        if text and _SIMPLE_TEXT.match(text):
            # Simple text: place whole LINES at a time (one span push per
            # line instead of one per word) — byte-identical to the
            # per-word path below by the same fitting/overflow/hard-wrap
            # rules.  A buffered word (a span boundary fell mid-word, the
            # inline-markup case) is first continued/flushed exactly as
            # the per-word buffered path would.
            if self.word.v:
                m = _WORD_RUN.match(text)
                if m:
                    g = m.group()
                    self.wordlen += len(g)
                    self.word.push_str(TaggedString(g, wtag))
                    if m.end() == len(text):
                        return
                    self.flush_word()
                    if self.line.len > 0 and self.wslen == 0:
                        self.spacetag = wtag
                        self.wslen = 1
                    self._add_text_normal_bulk(text[m.end():], wtag)
                    return
                if self.wordlen > 0:
                    # text starts with whitespace: the per-word ws-run
                    # branch flushes the buffered word first
                    self.flush_word()
            if not self.word.v and (
                self.wslen == 0
                or (self.wslen == 1 and self.spacetag == wtag)
            ):
                self._add_text_normal_bulk(text, wtag)
                return
        for m in _NORMAL_RUNS.finditer(text):
            g, g_ws, g3, c = m.groups()
            if g is not None:  # printable ASCII word run (all width-1)
                complete = g_ws is not None  # ASCII ws follows
                if (
                    complete
                    and not self.word.v
                    and (
                        self.wslen == 0
                        or (self.wslen == 1 and self.spacetag[1] == WS_NORMAL)
                    )
                ):
                    # complete word, clean state: place directly
                    self.pre_wrapped = False
                    line = self.line
                    wl = len(g)
                    if self.wslen + wl <= width - line.len:
                        if self.wslen:
                            st = self.spacetag
                            self.spacetag = None
                            self.wslen = 0
                            if st == wtag:
                                line.push_known(" " + g, wtag, wl + 1)
                            else:
                                line.push_known(" ", st, 1)
                                line.push_known(g, wtag, wl)
                        else:
                            line.push_known(g, wtag, wl)
                    else:
                        # overflow: drop the collapsed space, new line
                        self.spacetag = None
                        self.wslen = 0
                        self.flush_line()
                        if wl <= width:
                            self.line.push_str(TaggedString(g, wtag))
                        else:
                            self.word.push_str(TaggedString(g, wtag))
                            self.flush_word_hard_wrap()
                    # the trailing whitespace run: set the pending space
                    if self.line.len > 0:
                        self.spacetag = wtag
                        self.wslen = 1
                    continue
                # buffered path
                self.wordlen += len(g)
                self.word.push_str(TaggedString(g, wtag))
                if complete:
                    if self.wordlen > 0:
                        self.flush_word()
                    if self.line.len > 0 and self.wslen == 0:
                        self.spacetag = wtag
                        self.wslen = 1
                continue
            if g3 is not None:  # ASCII whitespace run (no preceding word)
                if self.wordlen > 0:
                    self.flush_word()
                if self.line.len > 0 and self.wslen == 0:
                    self.spacetag = wtag
                    self.wslen = 1
                continue
            # c: single non-ASCII (or control) char
            if is_wordbreak_point(c) and self.wordlen > 0:
                self.flush_word()
            if c == "\u200b":
                continue
            if not always_takes_space(c):
                if self.line.len > 0 and self.wslen == 0:
                    self.spacetag = wtag
                    self.wslen = 1
            else:
                cwidth = char_width(c)
                if cwidth >= 0:
                    self.wordlen += cwidth
                    self.word.push_char(c, wtag)

    def _add_text_normal_bulk(self, text: str, wtag) -> None:
        """Line-at-a-time variant of the Normal-mode fast path.

        Preconditions (checked by the caller): text is non-empty
        printable-ASCII + ASCII whitespace only, the word buffer is
        empty, and any pending space carries this same tag — so every
        complete word takes the direct-placement branch of the per-word
        fast path, and consecutive words on one line merge into a single
        span anyway.  Semantics per word are the per-word fast path's:
        fit → append (with one collapsed space), overflow → drop the
        pending space and start a new line, wider-than-width → hard
        character wrap, trailing pending space iff the line is
        non-empty."""
        line = self.line
        width = self.width
        words = text.split()
        if not words:
            # pure whitespace run
            if line.len > 0 and self.wslen == 0:
                self.spacetag = wtag
                self.wslen = 1
            return
        if text[0] in _ASCII_WS and line.len > 0 and self.wslen == 0:
            self.spacetag = wtag
            self.wslen = 1
        complete = words if text[-1] in _ASCII_WS else words[:-1]
        if complete:
            pend = self.wslen  # 0 or 1, tag == wtag by precondition
            self.wslen = 0
            self.spacetag = None
            # the words joined by single spaces: the space before word j+1
            # sits at the joined width of words 0..j, so the greedy line is
            # cut at the last space within the room left
            s = " ".join(complete)
            pos = 0
            end = len(s)
            while pos < end:
                room = width - line.len - pend
                if end - pos <= room:
                    cut = end
                else:
                    cut = s.rfind(" ", pos, pos + room + 1)
                if cut > pos:
                    line.push_known(" " + s[pos:cut] if pend else s[pos:cut],
                                    wtag, pend + cut - pos)
                    pend = 0
                    pos = cut + 1
                    if pos < end:
                        self.flush_line()
                        line = self.line
                    continue
                # the next word does not fit: drop the pending space and
                # start a new line; a word wider than the line hard-wraps
                pend = 0
                self.flush_line()
                line = self.line
                cut = s.find(" ", pos)
                if cut < 0:
                    cut = end
                if cut - pos > width:
                    self.word.push_str(TaggedString(s[pos:cut], wtag))
                    self.flush_word_hard_wrap()
                    line = self.line
                    pend = 1 if line.len > 0 else 0
                    pos = cut + 1
            self.pre_wrapped = False
            if line.len > 0:
                self.spacetag = wtag
                self.wslen = 1
        if text[-1] not in _ASCII_WS:
            g = words[-1]
            self.wordlen += len(g)
            self.word.push_str(TaggedString(g, wtag))

    def _add_text_pre_sametag(self, text: str, tag) -> None:
        """Bulk variant of the WhiteSpace::Pre loop for main_tag == wrap_tag.
        Printable-ASCII lines go one step per line (_add_pre_lines); other
        text appends printable-ASCII runs and space runs whole, and \\n,
        \\t and non-ASCII take the exact per-char logic."""
        wtag = (tag, WS_PRE)
        width = self.width
        if text.isascii():
            segments = text.split("\n")
            if all(seg.isprintable() for seg in segments):
                self._add_pre_lines(segments, wtag)
                return
        for m in _PRE_RUNS.finditer(text):
            g, g_sp, c = m.groups()
            if g is not None:  # printable ASCII run (no whitespace)
                wl = len(g)
                self.wordlen += wl
                # per-char sets pre_wrapped when the width is first
                # exceeded; with equal tags only the final state matters
                if self.line.len + self.wslen + self.wordlen > width:
                    self.pre_wrapped = True
                self.word.push_str(TaggedString(g, wtag))
                continue
            if g_sp is not None:  # run of plain spaces
                if self.word.is_empty():
                    self.wslen += len(g_sp)
                    self.spacetag = wtag
                else:
                    # in-word whitespace: no pre_wrapped width check
                    # (only non-whitespace chars trigger it, rs:790-805)
                    self.wordlen += len(g_sp)
                    self.word.push_str(TaggedString(g_sp, wtag))
                continue
            if c == "\n":
                self.flush_word()
                self.force_flush_line()
                self.wslen = 0
                self.spacetag = None
                self.pre_wrapped = False
            elif c == "\t":
                self.flush_word()
                if width == 0:
                    # zero-width target: see the per-char tab branch — the
                    # unguarded loop never terminates at width 0
                    continue
                pos = self.line.len + self.wordlen + self.wslen
                at_least_one_space = False
                while pos % 8 != 0 or not at_least_one_space:
                    if pos >= width:
                        self.flush_line()
                        pos = 0
                    else:
                        self.line.push_char(" ", wtag)
                        pos += 1
                        at_least_one_space = True
            elif c == "\u200b":
                # ZWSP: wordbreak in pre?  is_wordbreak_point yes but the
                # per-char loop skips flush in WS_PRE, then drops the char
                continue
            elif not always_takes_space(c):
                cwidth = char_width(c)
                if cwidth >= 0:
                    if self.word.is_empty() and is_unicode_whitespace(c):
                        self.wslen += cwidth
                        self.spacetag = wtag
                    else:
                        self.word.push_char(c, wtag)
                        self.wordlen += cwidth
            else:
                cwidth = char_width(c)
                if cwidth >= 0:
                    self.wordlen += cwidth
                    if self.line.len + self.wslen + self.wordlen > width:
                        self.pre_wrapped = True
                    self.word.push_char(c, wtag)

    def _add_pre_lines(self, segments: list[str], wtag) -> None:
        """The Pre loop above for `\\n`-separated printable-ASCII segments,
        one step per segment: its leading spaces join the pending
        whitespace while the word is empty, the rest is one push.  Within
        a segment the word only grows, so the width check the per-char
        loop makes at every non-space char is true at some char iff it is
        true at the last one."""
        last = len(segments) - 1
        for i, seg in enumerate(segments):
            if seg:
                if self.word.is_empty():
                    body = seg.lstrip(" ")
                    if len(body) < len(seg):
                        self.wslen += len(seg) - len(body)
                        self.spacetag = wtag
                    seg = body
                if seg:
                    nonspace = len(seg.rstrip(" "))
                    if nonspace and (
                        self.line.len + self.wslen + self.wordlen + nonspace
                        > self.width
                    ):
                        self.pre_wrapped = True
                    self.wordlen += len(seg)
                    self.word.push_known(seg, wtag, len(seg))
            if i < last:
                self.flush_word()
                self.force_flush_line()
                self.wslen = 0
                self.spacetag = None
                self.pre_wrapped = False

    def add_element(self, elt: FragmentStart) -> None:
        self.word.push(elt)

    def text_len(self) -> int:
        return len(self.text) + self.line.len + self.wordlen

    def is_empty(self) -> bool:
        return self.text_len() == 0
