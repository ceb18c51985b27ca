"""Differential test: the bulk ASCII fast path in WrappedBlock must be
byte-identical to the reference per-char algorithm (the `add_text` loop that
mirrors text_renderer.rs:708-814) over randomized inputs."""

from __future__ import annotations

import random

from rust_html2text_spark.engine.taggedline import TaggedLine, TaggedString
from rust_html2text_spark.engine.textutil import (
    always_takes_space,
    char_width,
    is_unicode_whitespace,
    is_wordbreak_point,
)
from rust_html2text_spark.engine.wrapped import WS_NORMAL, WS_PRE, WrappedBlock


def reference_add_text_normal(block: WrappedBlock, text: str, tag) -> None:
    """The original per-char Normal-mode algorithm (kept verbatim here as
    the differential oracle)."""
    ws_mode = WS_NORMAL
    for c in text:
        if is_wordbreak_point(c) and block.wordlen > 0:
            block.flush_word()
        if c == "\u200b":
            continue
        if not always_takes_space(c):
            if block.line.len > 0 and block.wslen == 0:
                block.spacetag = (tag, ws_mode)
                block.wslen = 1
        else:
            cwidth = char_width(c)
            if cwidth >= 0:
                block.wordlen += cwidth
                block.word.push_char(c, (tag, ws_mode))


def render_with(add_fn, pieces, width, pre_pieces=()):
    block = WrappedBlock(width, False, False, ("t",))
    for ws_mode, text, tag in pre_pieces:
        block.add_text(text, ws_mode, (tag,), (tag, "cont"))
    for text, tag in pieces:
        add_fn(block, text, (tag,))
    lines = block.into_lines()
    return [
        [(e.s, e.tag) for e in line.v if isinstance(e, TaggedString)]
        for line in lines
    ]


WORDS = [
    "a", "ab", "lorem", "ipsum", "consectetur", "x" * 15, "y" * 45,
    "punct,", "end.", "(paren)", "no\u200bbreak", "nb\xa0sp", "日本語",
    "mixé", "em—dash", "", "z" * 80,
]
SEPS = [" ", "  ", "\n", "\t", " \n ", " ", ""]


def test_differential_random():
    rng = random.Random(42)
    for trial in range(400):
        width = rng.choice([5, 8, 12, 20, 40, 80])
        n = rng.randint(1, 12)
        pieces = []
        for _ in range(n):
            text = "".join(
                rng.choice(WORDS) + rng.choice(SEPS) for _ in range(rng.randint(1, 6))
            )
            tag = rng.choice(["t", "u"])
            pieces.append((text, tag))
        fast = render_with(
            lambda b, t, tg: b.add_text(t, WS_NORMAL, tg, tg), pieces, width
        )
        slow = render_with(reference_add_text_normal, pieces, width)
        assert fast == slow, (width, pieces)


def test_differential_after_pre():
    """Normal-mode text arriving after preformatted text (stale pending
    whitespace / pre_wrapped state) must behave identically."""
    rng = random.Random(7)
    for trial in range(200):
        width = rng.choice([6, 12, 30])
        pre_text = rng.choice(
            ["keep   spaces ", "tail ", "x" * 20 + "   ", "a\nb  ", "   "]
        )
        pieces = [
            (
                "".join(
                    rng.choice(WORDS) + rng.choice(SEPS)
                    for _ in range(rng.randint(1, 4))
                ),
                "t",
            )
        ]
        pre = [(WS_PRE, pre_text, "p")]
        fast = render_with(
            lambda b, t, tg: b.add_text(t, WS_NORMAL, tg, tg),
            pieces,
            width,
            pre_pieces=pre,
        )
        slow = render_with(reference_add_text_normal, pieces, width, pre_pieces=pre)
        assert fast == slow, (width, pre_text, pieces)


def reference_add_text_pre(block: WrappedBlock, text: str, tag) -> None:
    """The original per-char Pre-mode algorithm with equal main/wrap tags
    (differential oracle for _add_text_pre_sametag)."""
    ws_mode = WS_PRE
    for c in text:
        if c == "\u200b":
            continue
        if not always_takes_space(c):
            if c == "\n":
                block.flush_word()
                block.force_flush_line()
                block.wslen = 0
                block.spacetag = None
                block.pre_wrapped = False
            elif c == "\t":
                block.flush_word()
                pos = block.line.len + block.wordlen + block.wslen
                at_least_one_space = False
                while pos % 8 != 0 or not at_least_one_space:
                    if pos >= block.width:
                        block.flush_line()
                        pos = 0
                    else:
                        block.line.push_char(" ", (tag, ws_mode))
                        pos += 1
                        at_least_one_space = True
            else:
                cwidth = char_width(c)
                if cwidth >= 0:
                    if block.word.is_empty() and is_unicode_whitespace(c):
                        block.wslen += cwidth
                        block.spacetag = (tag, ws_mode)
                    else:
                        block.word.push_char(c, (tag, ws_mode))
                        block.wordlen += cwidth
        else:
            cwidth = char_width(c)
            if cwidth >= 0:
                block.wordlen += cwidth
                if ws_mode == WS_PRE and (
                    block.line.len + block.wslen + block.wordlen > block.width
                ):
                    block.pre_wrapped = True
                block.word.push_char(c, (tag, ws_mode))


def test_differential_pre_sametag():
    from rust_html2text_spark.engine.errors import TooNarrow

    rng = random.Random(17)
    pre_words = WORDS + ["\t", "\n", "   ", "a\tb", "x\n y", "\xa0\xa0",
                         "好好", "💡", "", "\u200b", "é̶", "\r"]
    for trial in range(400):
        width = rng.choice([1, 2, 4, 8, 15, 40])
        pieces = [
            (
                "".join(rng.choice(pre_words) for _ in range(rng.randint(1, 8))),
                rng.choice("tu"),
            )
            for _ in range(rng.randint(1, 4))
        ]

        def outcome(fn):
            # both paths must agree on TooNarrow as well as on lines
            try:
                return ("ok", render_with(fn, pieces, width))
            except TooNarrow:
                return ("too_narrow",)

        fast = outcome(lambda b, t, tg: b.add_text(t, WS_PRE, tg, tg))
        slow = outcome(reference_add_text_pre)
        assert fast == slow, (width, pieces)


def _outcome(fn, pieces, width):
    from rust_html2text_spark.engine.errors import TooNarrow

    try:
        return ("ok", render_with(fn, pieces, width))
    except TooNarrow:
        return ("too_narrow",)


def test_differential_pre_ascii_lines(monkeypatch):
    """Printable-ASCII <pre> text takes the one-step-per-line path: lines
    longer than the width, leading/trailing spaces and blank lines, at
    every width 1-80."""
    calls = []
    line_step = WrappedBlock._add_pre_lines

    def counting(self, segments, wtag):
        calls.append(len(segments))
        line_step(self, segments, wtag)

    monkeypatch.setattr(WrappedBlock, "_add_pre_lines", counting)

    def then_probe(add):
        # a char added with distinct main/wrap tags shows pre_wrapped
        def add_and_probe(b, t, tg):
            add(b, t, tg)
            b.add_text(" q", WS_PRE, ("main",), ("wrap",))

        return add_and_probe

    rng = random.Random(23)
    chunks = ["a", "word", "x" * 9, "y" * 37, "z" * 90, " ", "   ", "\n", "\n\n", "-.;"]
    for width in range(1, 81):
        for _ in range(6):
            pieces = [
                ("".join(rng.choice(chunks) for _ in range(rng.randint(1, 10))), rng.choice("tu"))
                for _ in range(rng.randint(1, 3))
            ]
            calls.clear()
            fast = _outcome(
                then_probe(lambda b, t, tg: b.add_text(t, WS_PRE, tg, tg)), pieces, width
            )
            assert len(calls) == len(pieces)
            slow = _outcome(then_probe(reference_add_text_pre), pieces, width)
            assert fast == slow, (width, pieces)


def test_differential_normal_ascii_all_widths():
    """Printable-ASCII Normal text (the line-at-a-time greedy cut), with
    words longer than the line, at every width 1-80."""
    rng = random.Random(29)
    words = ["a", "ab", "word", "x" * 7, "y" * 23, "z" * 85, "q,", "(p)"]
    seps = [" ", "  ", "\n", " \t ", ""]
    for width in range(1, 81):
        for _ in range(5):
            pieces = [
                ("".join(rng.choice(words) + rng.choice(seps) for _ in range(rng.randint(1, 12))),
                 rng.choice("tu"))
                for _ in range(rng.randint(1, 3))
            ]
            fast = _outcome(lambda b, t, tg: b.add_text(t, WS_NORMAL, tg, tg), pieces, width)
            slow = _outcome(reference_add_text_normal, pieces, width)
            assert fast == slow, (width, pieces)


def reference_flush_word_hard_wrap(block: WrappedBlock) -> None:
    """The per-char hard wrap (text_renderer.rs:589-644), kept verbatim as
    the differential oracle for the printable-ASCII cut."""
    from rust_html2text_spark.engine.errors import TooNarrow

    lineleft = block.width - block.line.len
    for element in block.word.remove_items():
        if isinstance(element, TaggedString):
            piece_s = element.s
            piece_tag = element.tag
            w = element.width()
            wpos = 0
            bpos = 0
            while w - wpos > lineleft:
                split_idx = 0
                for idx, c in enumerate(piece_s[bpos:]):
                    c_w = char_width(c)
                    if c_w <= lineleft:
                        lineleft -= c_w
                        wpos += c_w
                    else:
                        if idx == 0 and block.line.width() == 0:
                            if block.allow_overflow:
                                split_idx = 1
                                wpos += c_w
                                break
                            raise TooNarrow()
                        split_idx = idx
                        break
                block.line.push(TaggedString(piece_s[bpos : bpos + split_idx], piece_tag))
                bpos += split_idx
                block.force_flush_line()
                lineleft = block.width
            if bpos == 0:
                block.line.push(element)
                lineleft -= w
            elif bpos < len(piece_s):
                block.line.push(TaggedString(piece_s[bpos:], piece_tag))
                lineleft -= max(w - wpos, 0)


def test_differential_hard_wrap_ascii_cut():
    """flush_word_hard_wrap cuts a printable-ASCII piece at the room left;
    the per-char split must agree, with and without allow_overflow, with
    non-ASCII and fragment pieces between, and on TooNarrow (width 0, or
    a wide char at width 1)."""
    from rust_html2text_spark.engine.errors import TooNarrow
    from rust_html2text_spark.engine.taggedline import FragmentStart

    rng = random.Random(31)
    pieces = ["abc", "x" * 13, "y" * 41, "a b", "-", "日本", "é̶", "\xa0", "好" * 5]
    for trial in range(3000):
        width = rng.choice([0, 1, 1, 2, 3, 5, 8, 13, 40, 80])
        allow_overflow = rng.random() < 0.5
        prefill = "p" * rng.randint(0, width + 2)
        word = []
        for _ in range(rng.randint(1, 4)):
            if rng.random() < 0.15:
                word.append(FragmentStart("f"))
            else:
                word.append(TaggedString(rng.choice(pieces), (rng.choice("tu"), WS_PRE)))

        def run(hard_wrap):
            block = WrappedBlock(width, False, allow_overflow, ("t",))
            if prefill:
                block.line.push_str(TaggedString(prefill, (("t",), WS_PRE)))
            for e in word:
                block.word.push(TaggedString(e.s, e.tag) if isinstance(e, TaggedString) else e)
            try:
                hard_wrap(block)
            except TooNarrow:
                return ("too_narrow",)
            lines = block.text + [block.line]
            return ("ok", [[(e.s, e.tag) if isinstance(e, TaggedString) else e.name
                             for e in line.v] for line in lines])

        fast = run(WrappedBlock.flush_word_hard_wrap)
        slow = run(reference_flush_word_hard_wrap)
        assert fast == slow, (width, allow_overflow, prefill, word)
