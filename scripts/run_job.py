"""spark-submit batch driver — the CLI of the Spark graft.

Mirrors the reference CLI surface (html2text-cli/src/main.rs:249-391):
every reference flag maps to job config — width/wrap-width/pad-width,
decorator selection (--literal, --colour), the CSS family (--css,
--ignore-css-colour, --only-css, --agent-css), link footnotes, and
--syntax highlighting.  `--show-render`/`--show-dom`/`--show-css` dump a
sample row's IR like the reference's debug flags.

Usage:
  spark-submit --py-files rust_html2text_spark.zip scripts/run_job.py \
      --input pages.parquet --output out/ [-w 80] [-W 40] [--pad-width]
      [--decorator plain|trivial|rich] [-L] [--colour] [--css]
      [--ignore-css-colour] [--only-css] [--agent-css CSS_OR_FILE]
      [--syntax] [--link-footnotes | --no-link-footnotes]
      [--buckets 16] [--explain] [--show-text URL]
      [--show-render URL] [--show-dom URL] [--show-css URL]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet/iceberg path")
    ap.add_argument("--output", required=True, help="output table path")
    ap.add_argument(
        "--input-format",
        default="auto",
        choices=["auto", "parquet", "warc", "cdx"],
        help="'warc' reads .warc/.warc.gz archives (Common Crawl layout); "
        "'cdx' treats --input as a CDXJ capture index: select fetchable "
        "captures (200s, html/pdf mimes, one per digest) and range-read "
        "ONLY those members from the archives in --warc-dir; "
        "'auto' picks warc/cdx when --input looks like those files",
    )
    ap.add_argument(
        "--warc-dir",
        default=None,
        help="(--input-format cdx) directory holding the WARC archives "
        "the index's filename column names (default: the index's own "
        "directory)",
    )
    # main.rs:286-291 (-w/--width), 292-297 (-W/--wrap-width)
    ap.add_argument(
        "--mode",
        default="render",
        choices=["render", "extract", "pdf", "mixed"],
        help="render: full-document HTML→text; extract: main-content "
        "extraction (boilerplate strip + DOM heuristics); pdf: PDF/layout "
        "parse (input column `pdf` instead of `html`); mixed: one binary "
        "payload column, HTML and PDF rows magic-byte routed (the raw "
        "Common Crawl shape — content-type headers are never trusted)",
    )
    ap.add_argument("-w", "--width", type=int, default=80)
    ap.add_argument(
        "-W",
        "--wrap-width",
        type=int,
        default=None,
        help="Maximum text wrap width (default same as width)",
    )
    ap.add_argument("--decorator", default="plain", choices=["plain", "trivial", "rich"])
    # main.rs:304-309: -L/--literal = trivial decorator
    ap.add_argument(
        "-L",
        "--literal",
        action="store_true",
        help="Output only literal text (no decorations)",
    )
    # main.rs:310-315
    ap.add_argument(
        "--pad-width", action="store_true", help="Pad blocks to their full width"
    )
    # main.rs:316-326 (both flags exist; both at once is an error, main.rs:150-157)
    ap.add_argument("--link-footnotes", action="store_true")
    ap.add_argument("--no-link-footnotes", action="store_true")
    # main.rs:327-333
    ap.add_argument(
        "--colour", action="store_true", help="Use ANSI terminal colours"
    )
    # main.rs:334-349: the CSS family
    ap.add_argument("--css", action="store_true", help="Enable document CSS")
    ap.add_argument(
        "--ignore-css-colour",
        action="store_true",
        help="With --css, ignore CSS colour information (still hides "
        "elements with e.g. display: none)",
    )
    ap.add_argument(
        "--only-css", action="store_true", help="Don't use default non-CSS colours"
    )
    # main.rs:368-373: a CSS string in the reference; also accepts a file
    # path here (the Spark job's config travels to executors, a path is the
    # natural CLI unit)
    ap.add_argument(
        "--agent-css",
        metavar="CSS_OR_FILE",
        action="append",
        default=[],
        help="Add CSS rules to the agent stylesheet (literal CSS, or a "
        "path to a .css file)",
    )
    # main.rs:374-379 (css_ext feature)
    ap.add_argument(
        "--syntax",
        action="store_true",
        help="Enable syntax highlighting of <pre> blocks",
    )
    ap.add_argument("--no-borders", action="store_true")
    ap.add_argument("--raw", action="store_true")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument(
        "--charset-sniff",
        action="store_true",
        help="(--mode extract|mixed) WHATWG encoding sniff (BOM → meta "
        "prescan → utf-8) in front of the HTML parse; extract mode adds "
        "(encoding, encoding_source) lineage columns; the render mode "
        "never sniffs (byte-identity reference parity)",
    )
    ap.add_argument(
        "--stream",
        action="store_true",
        help="run as a Structured Streaming job over the files present "
        "in --input (parquet pages, or WARC archives with --input-format "
        "warc) through the --mode operator: exactly-once parquet output, "
        "resumable via --checkpoint; not with --colour, --syntax or cdx",
    )
    ap.add_argument(
        "--checkpoint",
        default=None,
        help="streaming checkpoint location (default: <output>/_checkpoint)",
    )
    ap.add_argument(
        "--export-wet",
        metavar="PATH",
        help="after the run, also export the extracted text as WET "
        "(WARC conversion records — Common Crawl's extracted-text "
        "publication format). A directory path gets one shard per "
        "partition plus _wet_manifest.json; a path ending in .wet/.gz "
        "gets one file, the same shards appended in partition order. "
        "No text is collected to the driver either way",
    )
    ap.add_argument("--master", default=None)
    ap.add_argument("--explain", action="store_true", help="print the physical plan")
    ap.add_argument("--show-text", metavar="URL", help="print one rendered doc")
    ap.add_argument(
        "--show-render", metavar="URL", help="print one doc's render tree (IR dump)"
    )
    ap.add_argument("--show-dom", metavar="URL", help="print one doc's DOM (IR dump)")
    ap.add_argument(
        "--show-css",
        metavar="URL",
        help="print one doc's parsed stylesheet (agent/user/author rules)",
    )
    return ap


def config_from_args(args) -> tuple[dict, dict]:
    """Map CLI flags to (Config kwargs, render_pages render_kwargs),
    following update_config/translate (main.rs:129-229)."""
    if args.link_footnotes and args.no_link_footnotes:
        print(
            "Error: can't specify both --link-footnotes and --no-link-footnotes",
            file=sys.stderr,
        )
        sys.exit(1)

    decorator = args.decorator
    if args.literal:
        decorator = "trivial"  # main.rs:217-221
    if args.colour:
        decorator = "rich"  # main.rs:163-180: config::rich()

    config_kwargs: dict = {"decorator": decorator}
    if decorator == "plain" and not args.literal:
        # config::plain() (lib.rs:3308-3313): agent decoration rules on
        config_kwargs["do_decorate"] = True
        config_kwargs["link_footnotes"] = True
    if args.link_footnotes:
        config_kwargs["link_footnotes"] = True
    if args.no_link_footnotes:
        config_kwargs["link_footnotes"] = False
    if args.wrap_width is not None:
        config_kwargs["max_wrap_width"] = args.wrap_width
    if args.pad_width:
        config_kwargs["pad_block_width"] = True
    if args.css:
        config_kwargs["use_doc_css"] = True
    if args.agent_css:
        rules = []
        for item in args.agent_css:
            if os.path.isfile(item):
                with open(item) as fh:
                    rules.append(fh.read())
            else:
                rules.append(item)
        config_kwargs["add_agent_css"] = rules
    if args.no_borders:
        config_kwargs["draw_borders"] = False
    if args.raw:
        config_kwargs["raw"] = True
        config_kwargs["draw_borders"] = False

    render_kwargs: dict = {}
    if args.syntax:
        render_kwargs["syntax_highlight"] = True
    if args.colour:
        render_kwargs["coloured"] = True
        render_kwargs["use_css_colours"] = not args.ignore_css_colour
        render_kwargs["no_default_colours"] = args.only_css
    return config_kwargs, render_kwargs


def show_ir(html: bytes, args, config_kwargs: dict, render_kwargs: dict) -> None:
    """Print one document's IR dump: --show-dom, --show-render or
    --show-css (the reference CLI's debug flags)."""
    from rust_html2text_spark.engine.api import Config
    from rust_html2text_spark.engine.debug import (
        dump_dom,
        dump_parsed_style,
        show_render_tree,
    )
    from rust_html2text_spark.engine.htmlparse import parse_html

    config = Config(**config_kwargs)
    if render_kwargs.get("syntax_highlight"):
        from rust_html2text_spark.engine.highlight import DEFAULT_HIGHLIGHTERS

        config.syntax_highlighters = dict(DEFAULT_HIGHLIGHTERS)
    if args.show_dom:
        print(dump_dom(parse_html(html, xml_mode=config.xml)))
    elif args.show_render:
        print(show_render_tree(html, config))
    else:
        # mirrors html2text-cli/src/main.rs:195-201 / dom_to_parsed_style
        print(dump_parsed_style(html, config))


def main() -> None:
    args = build_parser().parse_args()

    from rust_html2text_spark.operators.extract import extract_pages
    from rust_html2text_spark.operators.pdf import (
        extract_mixed_pages,
        extract_pdf_pages,
    )
    from rust_html2text_spark.operators.render import render_pages
    from rust_html2text_spark.plans.session import get_spark
    from rust_html2text_spark.sources.sink import completed_buckets, run_with_resume

    config_kwargs, render_kwargs = config_from_args(args)

    spark = get_spark(app_name="html2text-job", master=args.master)
    fmt = args.input_format
    if fmt == "auto":
        base = os.path.basename(args.input)
        if ".cdx" in base:
            fmt = "cdx"
        elif ".warc" in base:
            fmt = "warc"
        else:
            fmt = "parquet"
    debug_url = args.show_text or args.show_render or args.show_dom or args.show_css

    if args.stream:
        # the index is a batch artifact (one file per published segment):
        # streaming ingestion watches the WARC/parquet side, not the
        # index; the stream runs the operators without render_kwargs;
        # the debug dumps read one row of a batch input
        for flag, on in (
            ("--input-format cdx", fmt == "cdx"),
            ("--colour", args.colour),
            ("--syntax", args.syntax),
            ("--explain or --show-*", args.explain or debug_url),
        ):
            if on:
                print(
                    f"--stream is not supported with {flag}; "
                    "run it as a batch job",
                    file=sys.stderr,
                )
                sys.exit(2)
        from rust_html2text_spark.streaming.pipeline import (
            start_extraction_stream,
            stream_pages,
            stream_warc_pages,
        )

        ckpt = args.checkpoint or os.path.join(args.output, "_checkpoint")
        source = stream_warc_pages if fmt == "warc" else stream_pages
        q = start_extraction_stream(
            source(spark, args.input), args.output, ckpt, mode=args.mode,
            width=args.width, config_kwargs=config_kwargs,
            charset_sniff=args.charset_sniff,
        )
        q.processAllAvailable()
        q.stop()
        try:
            out_df = spark.read.parquet(args.output)
            n = out_df.count()
        except Exception:  # no files yet: empty input stream
            out_df, n = None, 0
        summary = {"streamed_rows_total": n, "checkpoint": ckpt}
    else:
        if fmt == "warc":
            from rust_html2text_spark.sources.warc import read_warc_pages

            # with the sniff on, carry the HTTP Content-Type charset label
            # so the extraction operators consult it between BOM and meta
            pages = read_warc_pages(
                spark, args.input, include_charset_col=args.charset_sniff
            )
        elif fmt == "cdx":
            # index-first ingestion: select captures from the CDXJ index,
            # then seek straight to the chosen members — a 1% selection
            # reads ~1% of the archive bytes
            from rust_html2text_spark.sources.cdx import (
                read_cdx,
                select_fetches,
            )
            from rust_html2text_spark.sources.warc import read_warc_ranges

            pages = read_warc_ranges(
                spark,
                select_fetches(read_cdx(spark, args.input)),
                base_dir=args.warc_dir or os.path.dirname(args.input) or ".",
                include_charset_col=args.charset_sniff,
            )
        else:
            pages = spark.read.parquet(args.input)

        # the one mode dispatch: the batch job, --explain and --show-text
        # all run this operator
        def operator(part):
            if args.mode == "extract":
                return extract_pages(
                    part,
                    width=args.width,
                    config_kwargs=config_kwargs,
                    charset_sniff=args.charset_sniff,
                    charset_col=(
                        "http_charset"
                        if args.charset_sniff and "http_charset" in part.columns
                        else None
                    ),
                )
            if args.mode == "pdf":
                return extract_pdf_pages(part)
            if args.mode == "mixed":
                return extract_mixed_pages(
                    part,
                    width=args.width,
                    config_kwargs=config_kwargs,
                    charset_sniff=args.charset_sniff,
                )
            return render_pages(
                part,
                width=args.width,
                config_kwargs=config_kwargs,
                render_kwargs=render_kwargs,
            )

        if debug_url:
            # the IR dumps read HTML; a pdf row can only show its text
            ir = not args.show_text and args.mode != "pdf"
            picked = pages.filter(pages.url == debug_url).limit(1)
            row = (picked if ir else operator(picked)).collect()
            if not row:
                print("url not found", file=sys.stderr)
                sys.exit(1)
            if ir:
                show_ir(bytes(row[0]["html"]), args, config_kwargs, render_kwargs)
            else:
                print(row[0]["text"])
            return
        if args.explain:
            operator(pages).explain("formatted")
            return
        summary = run_with_resume(
            pages,
            args.output,
            width=args.width,
            num_buckets=args.buckets,
            config_kwargs=config_kwargs,
            render_kwargs=render_kwargs,
            operator=operator,
            bytes_col={"pdf": "pdf_bytes", "mixed": "input_bytes"}.get(
                args.mode, "html_bytes"
            ),
            mode=args.mode,
        )
        # the committed bucket directories, in the order a `bucket=*` glob
        # lists them (a glob path makes Spark log a FileNotFoundException
        # while it probes for a streaming-sink log)
        out_df = (
            spark.read.parquet(
                *sorted(
                    os.path.join(args.output, f"bucket={b}")
                    for b in completed_buckets(args.output)
                )
            )
            if args.export_wet
            else None
        )
    if args.export_wet:
        from rust_html2text_spark.sources.warc import (
            export_wet,
            export_wet_partitioned,
        )

        if out_df is None:
            summary["wet_records"] = 0
        elif args.export_wet.endswith((".wet", ".gz")):
            summary["wet_records"] = export_wet(out_df, args.export_wet)
        else:
            man = export_wet_partitioned(out_df, args.export_wet)
            summary["wet_records"] = man["records"]
            summary["wet_shards"] = len(man["shards"])
        summary["wet_path"] = args.export_wet
    print(summary)
    spark.stop()


if __name__ == "__main__":
    main()
