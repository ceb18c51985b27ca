"""Single-core, in-process replay of a workload's rows through the engine.

Each document is run through the same sequence of public engine calls the
Spark kernels make, with one span per call:

- HTML render: parse_html, dom_to_render_tree (lower, CSS cascade
  included), render_tree_to_string (layout), into_string (emit)
- main-content extract: parse_html, extract_main_node, then the render
  phases on the winner
- PDF: extract_pdf_ex, plus a separate parse_pdf call so that pdftext can
  be reported as extract_pdf_ex minus parse_pdf

The replayed text must equal the row's expected text, so the replay is
also a check that it mirrors the kernels.
"""

from __future__ import annotations

import gc
import statistics
import time

PHASES = ("htmlparse", "lower", "layout", "emit", "extract", "pdfparse", "pdftext")


def _render_phases(tracer, doc_span, context, config, tree_fn, width):
    """lower → layout → emit on whatever DOM tree_fn lowers; returns text."""
    from rust_html2text_spark.engine.errors import Fail
    from rust_html2text_spark.engine.render import render_tree_to_string
    from rust_html2text_spark.engine.subrender import SubRenderer

    t = time.perf_counter
    a = t()
    tree = tree_fn(context)
    b = t()
    tracer.record("engine.lower", a, b, doc_span)
    if tree is None:
        raise Fail("no render tree")
    decorator = config.make_decorator()
    builder = SubRenderer(width, config.render_options(), decorator)
    a = t()
    renderer = render_tree_to_string(
        context, builder, decorator.make_subblock_decorator(), tree
    )
    b = t()
    tracer.record("engine.layout", a, b, doc_span)
    text = renderer.into_string()
    tracer.record("engine.emit", b, t(), doc_span)
    return text


def _html(tracer, doc_span, payload, config, width):
    from rust_html2text_spark.engine.api import _free_dom, _HtmlContext
    from rust_html2text_spark.engine.htmlparse import parse_html
    from rust_html2text_spark.engine.lower import dom_to_render_tree

    a = time.perf_counter()
    dom = parse_html(payload, xml_mode=config.xml)
    tracer.record("engine.htmlparse", a, time.perf_counter(), doc_span)

    def lower(context):
        try:
            return dom_to_render_tree(dom, context)
        finally:
            _free_dom(dom)

    return _render_phases(tracer, doc_span, _HtmlContext(config), config, lower, width)


def _chrome(tracer, doc_span, payload, config, width):
    from rust_html2text_spark.engine.api import _free_dom, _HtmlContext
    from rust_html2text_spark.engine.extract import (
        _resolve_links,
        _wrap_as_document,
        base_href_from_dom,
        effective_base,
        extract_main_node,
        links_from_node,
    )
    from rust_html2text_spark.engine.htmlparse import parse_html
    from rust_html2text_spark.engine.lower import dom_to_render_tree

    t = time.perf_counter
    a = t()
    dom = parse_html(payload, xml_mode=config.xml)
    tracer.record("engine.htmlparse", a, t(), doc_span)
    try:
        base = effective_base(None, base_href_from_dom(dom))
        a = t()
        winner, _info = extract_main_node(dom)
        tracer.record("engine.extract", a, t(), doc_span)
        _resolve_links(links_from_node(winner), base)
        wrapped = _wrap_as_document(winner)
        return _render_phases(
            tracer,
            doc_span,
            _HtmlContext(config),
            config,
            lambda context: dom_to_render_tree(wrapped, context),
            width,
        )
    finally:
        _free_dom(dom)


def _pdf(tracer, doc_span, payload):
    from rust_html2text_spark.engine.pdftext import extract_pdf_ex

    a = time.perf_counter()
    text = extract_pdf_ex(payload)["text"]
    tracer.record("engine.pdf.extract_pdf_ex", a, time.perf_counter(), doc_span)
    return text


def _probe_parse(tracer, parent, payload) -> float:
    from rust_html2text_spark.engine.pdfparse import parse_pdf

    a = time.perf_counter()
    parse_pdf(payload)
    b = time.perf_counter()
    tracer.record("engine.pdf.parse_pdf", a, b, parent)
    return b - a


def replay(rows, expected_text, tracer, parent, width: int = 80) -> dict:
    """Replay `rows` (corpus.Row) on this core.  `expected_text(row)` gives
    the text each row must produce.  Returns the engine.* metrics plus
    `mismatches`."""
    from rust_html2text_spark.engine.api import plain_config

    config = plain_config()
    phase_s = dict.fromkeys(PHASES, 0.0)
    doc_s: list[float] = []
    amp = 0.0
    mismatches = 0
    old = gc.get_threshold()
    # the Spark kernels run with this gen-0 threshold; replay under the same
    gc.set_threshold(200_000, 50, 50)
    gc.collect()
    try:
        for row in rows:
            start = time.perf_counter()
            doc_span = tracer.record("engine.doc", start, start, parent, kind=row.kind)
            first = len(tracer.spans) - 1
            if row.kind == "pdf":
                text = _pdf(tracer, doc_span, row.payload)
            elif row.kind == "chrome":
                text = _chrome(tracer, doc_span, row.payload, config, width)
            else:
                text = _html(tracer, doc_span, row.payload, config, width)
            end = time.perf_counter()
            tracer.spans[first].end = end
            doc_s.append(end - start)
            for sp in tracer.spans[first + 1 :]:
                phase = sp.name.split(".", 1)[1]
                if phase in phase_s:
                    phase_s[phase] += sp.duration
            if row.kind == "pdf":
                parse_s = _probe_parse(tracer, parent, row.payload)
                phase_s["pdfparse"] += parse_s
                phase_s["pdftext"] += (end - start) - parse_s
            amp = max(amp, len(text.encode("utf-8")) / max(len(row.payload), 1))
            if text != expected_text(row):
                mismatches += 1
    finally:
        gc.set_threshold(*old)
    n = max(len(doc_s), 1)
    total = sum(doc_s)
    out = {f"engine.{p}.ms_per_doc": 1000.0 * s / n for p, s in phase_s.items()}
    out["engine.remainder.ms_per_doc"] = 1000.0 * (total - sum(phase_s.values())) / n
    out["engine.doc_ms_mean"] = 1000.0 * total / n
    ordered = sorted(doc_s) or [0.0]
    out["engine.doc_ms_p50"] = 1000.0 * statistics.median(ordered)
    out["engine.doc_ms_p99"] = 1000.0 * ordered[min(len(ordered) - 1, int(0.99 * len(ordered)))]
    out["engine.docs_per_s_1core"] = len(doc_s) / total if total else 0.0
    out["engine.text_amplification_max"] = amp
    out["engine.replayed_docs"] = len(doc_s)
    out["mismatches"] = mismatches
    return out
