"""CLI flag plumbing (scripts/run_job.py) against the reference CLI's
flag-to-config mapping (html2text-cli/src/main.rs:129-229, 249-391) and
reference goldens (tests.rs wrap-width/css families)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "scripts"))

from run_job import build_parser, config_from_args  # noqa: E402

from rust_html2text_spark.engine.api import Config, html_to_text  # noqa: E402

FIXTURES = {
    f["name"]: f
    for f in json.loads(
        (Path(__file__).parent / "fixtures/goldens.json").read_text()
    )["fixtures"]
}

BASE = ["--input", "in", "--output", "out"]


def _config_for(argv: list[str]) -> tuple[Config, dict]:
    args = build_parser().parse_args(BASE + argv)
    config_kwargs, render_kwargs = config_from_args(args)
    return Config(**config_kwargs), render_kwargs


@pytest.mark.parametrize("name", ["test_wrap_max", "test_wrap_max2"])
def test_wrap_width_flag_matches_goldens(name):
    """-W/--wrap-width → Config.max_wrap_width (main.rs:130-132), pinned by
    the reference wrap_max goldens (tests.rs:872-925)."""
    f = FIXTURES[name]
    cfg, _ = _config_for(["-W", str(f["config"]["max_wrap_width"])])
    out = html_to_text(f["html"].encode(), f["width"], cfg)
    assert out == f["expected"]


@pytest.mark.parametrize(
    "name", ["test_disp_none", "test_selector_elementname", "test_selector_aoc"]
)
def test_css_flag_matches_goldens(name):
    """--css → Config.use_doc_css (main.rs:134-136), pinned by the
    reference test_html_css family."""
    f = FIXTURES[name]
    cfg, _ = _config_for(["--css"])
    out = html_to_text(f["html"].encode(), f["width"], cfg)
    assert out == f["expected"]


def test_pad_width_flag():
    """--pad-width → Config.pad_block_width (main.rs:158-160): blocks are
    padded to the full render width."""
    cfg, _ = _config_for(["--pad-width"])
    assert cfg.pad_block_width
    out = html_to_text(b"<p>hi</p>", 10, cfg)
    assert out == "hi        \n"
    cfg_plain, _ = _config_for([])
    assert html_to_text(b"<p>hi</p>", 10, cfg_plain) == "hi\n"


def test_agent_css_inline_and_file(tmp_path):
    """--agent-css accepts literal CSS (reference semantics) or a file."""
    css = "p { display: none; }"
    cfg, _ = _config_for(["--css", "--agent-css", css])
    assert html_to_text(b"<p>gone</p><div>kept</div>", 20, cfg) == "kept\n"
    path = tmp_path / "agent.css"
    path.write_text(css)
    cfg2, _ = _config_for(["--css", "--agent-css", str(path)])
    assert html_to_text(b"<p>gone</p><div>kept</div>", 20, cfg2) == "kept\n"


def test_literal_flag_selects_trivial_decorator():
    """-L/--literal → TrivialDecorator (main.rs:217-221): no * emphasis
    markers, no link footnotes."""
    cfg, _ = _config_for(["-L"])
    assert cfg.decorator == "trivial"
    html = b'<p><em>em</em> <a href="http://x">link</a></p>'
    assert html_to_text(html, 80, cfg) == "em link\n"


def test_footnote_flags_conflict_exits():
    args = build_parser().parse_args(
        BASE + ["--link-footnotes", "--no-link-footnotes"]
    )
    with pytest.raises(SystemExit):
        config_from_args(args)


def test_colour_flag_forces_rich_and_colour_map():
    """--colour → config::rich() + ANSI colour map (main.rs:161-180);
    --ignore-css-colour / --only-css feed the map's two booleans."""
    cfg, rk = _config_for(["--colour", "--css"])
    assert cfg.decorator == "rich"
    assert rk == {
        "coloured": True,
        "use_css_colours": True,
        "no_default_colours": False,
    }
    _, rk2 = _config_for(["--colour", "--css", "--ignore-css-colour", "--only-css"])
    assert rk2["use_css_colours"] is False
    assert rk2["no_default_colours"] is True


def test_colour_output_ansi():
    """End-to-end --colour rendering: <em> gets termion Bold + style reset
    (main.rs:39-42); --ignore-css-colour drops a CSS colour's RGB escape."""
    from functools import partial

    from rust_html2text_spark.engine.api import html_to_coloured
    from rust_html2text_spark.engine.colourmap import default_colour_map

    cfg, rk = _config_for(["--colour"])
    cmap = partial(
        default_colour_map,
        use_css_colours=rk["use_css_colours"],
        no_default_colours=rk["no_default_colours"],
    )
    out = html_to_coloured(b"<p><em>hi</em></p>", 80, cmap, cfg)
    assert out == "\x1b[1mhi\x1b[m\n"

    html = b'<p style="color: #f00">red</p>'
    cfg_css, rk_css = _config_for(["--colour", "--css"])
    cmap_css = partial(
        default_colour_map,
        use_css_colours=rk_css["use_css_colours"],
        no_default_colours=rk_css["no_default_colours"],
    )
    assert (
        html_to_coloured(html, 80, cmap_css, cfg_css)
        == "\x1b[38;2;255;0;0mred\x1b[39m\n"
    )
    _, rk_ign = _config_for(["--colour", "--css", "--ignore-css-colour"])
    cmap_ign = partial(
        default_colour_map,
        use_css_colours=rk_ign["use_css_colours"],
        no_default_colours=rk_ign["no_default_colours"],
    )
    assert html_to_coloured(html, 80, cmap_ign, cfg_css) == "red\n"


def test_syntax_flag_highlights_pre():
    """--syntax registers the rs/html highlighters (main.rs:143-148); with
    agent CSS tagging <pre> as x-syntax: rs, keywords gain a Colour span."""
    from rust_html2text_spark.engine.api import html_to_lines
    from rust_html2text_spark.engine.highlight import DEFAULT_HIGHLIGHTERS

    cfg, rk = _config_for(
        ["--syntax", "--css", "--agent-css", "pre { x-syntax: rs; }"]
    )
    assert rk == {"syntax_highlight": True}
    cfg.decorator = "rich"
    cfg.syntax_highlighters = dict(DEFAULT_HIGHLIGHTERS)
    lines = html_to_lines(b"<pre>fn main() {}</pre>", 80, cfg)
    tags = [
        ann
        for line in lines
        for ts in line.tagged_strings()
        for ann in ts.tag
    ]
    assert ("Colour", (0, 0, 255)) in tags
