"""Main-content extraction: HTML boilerplate strip via DOM heuristics.

The reference engine renders the WHOLE document
(/root/reference/src/lib.rs:3430); a crawl-scale extraction pipeline
additionally needs the content-vs-chrome split (the north-rule tier names
"HTML boilerplate strip ... DOM heuristics" explicitly).  This module adds
that split in FRONT of the same renderer, so the extracted main content
inherits every layout semantic (tables, lists, links, wrapping) the
engine already certifies byte-identically.

The heuristic is the classic public readability/boilerpipe family,
re-derived from its published description (no code consulted):

1. **Strip** chrome-by-construction elements (script/style/nav/aside/
   footer/form/...), plus elements whose id/class names scream chrome
   (sidebar, comment, promo, ...) unless they also claim content-ness.
2. **Score text blocks** (p, pre, blockquote, headers, li, td, and
   leaf-ish divs): points = 1 + commas + min(chars/100, 3).  Each block
   credits its parent fully and its grandparent half — so a container
   OWNING paragraphs outscores the page wrapper that merely contains it.
3. **Adjust candidates** by link density (chrome is link-dense, prose is
   not), id/class priors, and tag priors (article/main declare intent).
4. **Winner** = highest score, document order breaking ties; the winner
   subtree is rendered with the normal engine pipeline.

Everything is integer/rational arithmetic over subtree text statistics —
deterministic at any parallelism, exactly like the renderer itself.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlsplit

from .htmlparse import DomNode, parse_html

# Elements that are never content (removed outright, subtree and all).
STRIP_TAGS = frozenset(
    "script style noscript template nav aside footer header form iframe "
    "object embed applet button select option textarea label menu dialog "
    "svg canvas audio video map area".split()
)

# id/class vocabulary.  An element whose id+class hits NEGATIVE without
# hitting POSITIVE is stripped in pass 1 (unless it is a structural tag).
_POSITIVE_RE = re.compile(
    r"article|body|content|entry|hentry|main|page|post|text|blog|story",
    re.IGNORECASE,
)
_NEGATIVE_RE = re.compile(
    r"banner|boilerplate|breadcrumb|combx|comment|community|cookie|disqus|"
    r"extra|foot|masthead|menu|modal|nav|popup|promo|related|remark|rss|"
    r"share|shoutbox|sidebar|skyscraper|social|sponsor|widget|advert|"
    r"repl(?:y|ies)|gdpr|agegate|pag(?:er|ination)|supplemental|"
    r"\bad\b|ad-",
    re.IGNORECASE,
)
_STRUCTURAL = frozenset("html body article main".split())

# Block elements whose text mass votes for their container.
_TEXT_BLOCKS = frozenset(
    "p pre blockquote h1 h2 h3 h4 h5 h6 li dd dt td figcaption".split()
)
# A div with none of these among its children behaves like a paragraph.
_DIV_BLOCKERS = frozenset(
    "p div table ul ol dl section article header footer nav aside pre "
    "blockquote h1 h2 h3 h4 h5 h6 form".split()
)

_TAG_PRIOR = {"article": 30, "main": 30, "section": 8, "td": -5, "body": -20}
_CLASS_PRIOR = 25

_MIN_BLOCK_CHARS = 20  # text blocks shorter than this carry no signal


def _id_class(node: DomNode) -> str:
    return f"{node.attrs.get('id', '')} {node.attrs.get('class', '')}"


def strip_boilerplate(node: DomNode) -> None:
    """Pass 1: remove chrome elements in place (tag list + id/class
    vocabulary).  Mutates the DOM."""
    stack = [node]
    while stack:
        node = stack.pop()
        kept = []
        for child in node.children:
            if child.kind == "element":
                name = (child.name or "").lower()
                if name in STRIP_TAGS:
                    continue
                if name not in _STRUCTURAL:
                    idc = _id_class(child)
                    if (
                        idc.strip()
                        and _NEGATIVE_RE.search(idc)
                        and not _POSITIVE_RE.search(idc)
                    ):
                        continue
            kept.append(child)
        node.children[:] = kept
        stack.extend(kept)


def _subtree_stats(root: DomNode, memo: dict) -> tuple[int, int, int]:
    """(non-ws chars, link chars, commas) for the subtree — post-order,
    memoized by node identity so candidate scoring is O(n) overall.
    Explicit stack: a node is entered, then revisited (`done`) once its
    children's entries are in the memo."""
    stack = [(root, False)]
    while stack:
        node, done = stack.pop()
        key = id(node)
        if not done and key in memo:
            continue
        if node.kind == "text":
            t = node.text or ""
            # non-ws chars == sum(len(w) for w in t.split()); the join form
            # stays in C instead of a per-word Python generator (hot path)
            chars = len("".join(t.split()))
            # comma signal covers the CJK clause separators too (U+FF0C
            # full-width comma, U+3001 ideographic comma) — ASCII-only
            # counting starves CJK prose of its strongest prose signal
            memo[key] = (chars, 0, t.count(",") + t.count("，") + t.count("、"))
        elif not done:
            stack.append((node, True))
            stack.extend((child, False) for child in node.children)
        else:
            chars = links = commas = 0
            for child in node.children:
                c, l, m = memo[id(child)]
                chars += c
                links += l
                commas += m
            if node.kind == "element" and (node.name or "").lower() == "a":
                links = chars
            memo[key] = (chars, links, commas)
    return memo[id(root)]


def _is_text_block(node: DomNode) -> bool:
    if node.kind != "element":
        return False
    name = (node.name or "").lower()
    if name in ("div", "td", "th", "li", "blockquote"):
        # container-capable blocks behave like a paragraph only when they
        # hold no block children — otherwise their children vote and this
        # node is credited as the parent; letting it ALSO vote would
        # double-count the same commas/prose one level up (a <td> full of
        # <p>s pushing its <tr> past the <td> itself is exactly how a
        # legacy table layout's whole row — nav and ad cells included —
        # used to beat the content cell)
        return not any(
            c.kind == "element" and (c.name or "").lower() in _DIV_BLOCKERS
            for c in node.children
        )
    return name in _TEXT_BLOCKS


def score_candidates(dom: DomNode) -> list[tuple[float, int, DomNode]]:
    """Pass 2+3: text-block voting plus candidate adjustments.  Returns
    (score, doc_order, node) sorted best-first; empty if the page has no
    scoreable text."""
    memo: dict = {}
    points: dict[int, float] = {}
    nodes: dict[int, DomNode] = {}
    order: dict[int, int] = {}
    counter = 0

    stack = [dom]
    while stack:
        node = stack.pop()
        order.setdefault(id(node), counter)
        counter += 1
        if _is_text_block(node):
            chars, links, commas = _subtree_stats(node, memo)
            prose = chars - links
            if prose >= _MIN_BLOCK_CHARS:
                # the comma signal only means "prose" at prose-like
                # densities: real sentences (Latin or CJK) run ≥ ~12
                # chars per clause, while tag clouds / keyword lists
                # ("politics, economy, sports, ...") hit one comma per
                # word — those blocks are lists and get NO comma credit,
                # or a 20-term nav cloud outscores the article
                comma_credit = commas if commas * 12 <= chars else 0.0
                pts = 1.0 + comma_credit + min(prose / 100.0, 3.0)
                parent = node.parent
                if parent is not None and parent.kind == "element":
                    points[id(parent)] = points.get(id(parent), 0.0) + pts
                    nodes[id(parent)] = parent
                    gp = parent.parent
                    if gp is not None and gp.kind == "element":
                        points[id(gp)] = points.get(id(gp), 0.0) + pts / 2.0
                        nodes[id(gp)] = gp
        stack.extend(reversed(node.children))

    scored = []
    for key, pts in points.items():
        node = nodes[key]
        chars, links, _ = _subtree_stats(node, memo)
        link_density = links / chars if chars else 0.0
        score = pts * (1.0 - link_density)
        idc = _id_class(node)
        if _POSITIVE_RE.search(idc):
            score += _CLASS_PRIOR
        if _NEGATIVE_RE.search(idc):
            score -= _CLASS_PRIOR
        score += _TAG_PRIOR.get((node.name or "").lower(), 0)
        scored.append((score, order[key], node))
    # best score first; ties resolve to earliest document order
    scored.sort(key=lambda t: (-t[0], t[1]))
    return scored


def _find_body(dom: DomNode) -> DomNode:
    stack = [dom]
    while stack:
        n = stack.pop()
        if n.kind == "element" and (n.name or "").lower() == "body":
            return n
        stack.extend(reversed(n.children))
    return dom


def _ancestor_chain(node: DomNode) -> list[DomNode]:
    out = []
    n = node
    while n is not None:
        out.append(n)
        n = getattr(n, "parent", None)
    return out


def _merge_split_candidates(scored) -> DomNode:
    """Multi-block main content (forum threads, Q&A posts, transcripts
    split across containers): when the runner-up scores at least half of
    the winner and is DISJOINT from it, the real main content is their
    common container.  Promote to the lowest common ancestor, unless
    that would swallow the whole page (body/html) — the guard that keeps
    a strong-but-unrelated block (a long comment, a paywall pitch) from
    dragging the winner up to <body>."""
    score, _, winner = scored[0]
    if len(scored) < 2:
        return winner
    s2, _, n2 = scored[1]
    if s2 < 0.5 * score:
        return winner
    chain1 = _ancestor_chain(winner)
    ids1 = {id(a): i for i, a in enumerate(chain1)}
    if id(n2) in ids1 or id(winner) in {id(a) for a in _ancestor_chain(n2)}:
        return winner  # nested candidates describe the same content
    for a in _ancestor_chain(n2):
        if id(a) in ids1:
            lca = a
            break
    else:
        return winner
    if lca.kind != "element" or (lca.name or "").lower() in (
        "body",
        "html",
        "",
    ):
        return winner
    return lca


def extract_main_node(dom: DomNode) -> tuple[DomNode, dict]:
    """Strip + score an already-parsed DOM; returns (winner, debug info).
    Falls back to <body> when nothing scores (e.g. an all-table page)."""
    strip_boilerplate(dom)
    scored = score_candidates(dom)
    if scored:
        score, _, _top = scored[0]
        winner = _merge_split_candidates(scored)
        info = {
            "winner_tag": (winner.name or "").lower(),
            "score": round(score, 3),
            "n_candidates": len(scored),
        }
    else:
        winner = _find_body(dom)
        info = {
            "winner_tag": (winner.name or "").lower() or winner.kind,
            "score": 0.0,
            "n_candidates": 0,
        }
    return winner, info


def _wrap_as_document(winner: DomNode) -> DomNode:
    """Re-root the winner subtree as a minimal document so the normal
    dom→render-tree lowering applies unchanged.

    Legacy table layouts make a lone <td> (or <tr>/<tbody>) the winner —
    detached from its <table>, it would lower to a floating TableCell/
    TableRow render node, which the renderer rejects.  A cell that IS
    the whole document is just a block, so it re-tags as <div>; a
    floating row/row-group gets a minimal <table> scaffold back."""
    name = (winner.name or "").lower() if winner.kind == "element" else ""
    if name in ("td", "th"):
        winner.name = "div"
    elif name in ("tr", "thead", "tbody", "tfoot"):
        if name == "tr":
            # the lowering (lib.rs:1193-1216 parity) expects rows inside
            # a row group — the HTML tree builder always inserts tbody,
            # so the scaffold must too
            tbody = DomNode("element", "tbody")
            tbody.append(winner)
            winner = tbody
        table = DomNode("element", "table")
        table.append(winner)
        winner = table
    doc = DomNode("document")
    if name == "html":
        doc.append(winner)
        return doc
    html_el = DomNode("element", "html")
    doc.append(html_el)
    if name == "body":
        html_el.append(winner)
        return doc
    body_el = DomNode("element", "body")
    html_el.append(body_el)
    body_el.append(winner)
    return doc


def _collapse_ws(s: str) -> str:
    return " ".join(s.split())


def resolve_url(
    base: str | None, href: str, base_ok: bool | None = None
) -> str | None:
    """RFC-3986 reference resolution (urllib.parse.urljoin, which
    implements §5).  Returns the absolute target, or None when `href` is
    relative and no absolute base is available — a frontier consumer must
    treat None as an unusable edge, never as a literal URL.  Absolute
    references (including non-hierarchical ones like mailto:/javascript:)
    pass through untouched; malformed ones (`http://[::bad`) are None.
    `base_ok` is the caller's precomputed `_base_ok(base)`, for resolving
    a page's links against one base."""
    href = href.strip()
    # fast path: the overwhelmingly common absolute forms skip urlsplit
    # (http://x and https://x have a scheme by construction).  urlsplit
    # rejects only brackets (IPv6 hosts) and non-ASCII netlocs that
    # NFKC-normalize into separators, so those still take the slow path.
    if (
        href.startswith(("http://", "https://"))
        and href.isascii()
        and "[" not in href
        and "]" not in href
    ):
        return href
    try:
        if urlsplit(href).scheme:
            return href
        if base_ok is None:
            base_ok = _base_ok(base)
        if not base_ok:
            return None
        return urljoin(base, href)
    except ValueError:
        return None


def _base_ok(base: str | None) -> bool:
    """Whether `base` is an absolute URL a relative href can resolve
    against."""
    try:
        return bool(base) and bool(urlsplit(base).scheme)
    except ValueError:
        return False


def base_href_from_dom(dom: DomNode) -> str | None:
    """First <base href> in the document (WHATWG: first wins; later base
    elements are ignored).  Must be read from the PRE-strip DOM — <base>
    lives in <head>, which the boilerplate strip discards."""

    stack = [dom]
    while stack:
        n = stack.pop()
        if n.kind == "element" and (n.name or "").lower() == "base":
            href = n.attrs.get("href")
            if href is not None:
                return href
        stack.extend(reversed(n.children))
    return None


def effective_base(page_url: str | None, base_href: str | None) -> str | None:
    """The document's base URL per WHATWG: <base href> resolved against
    the page URL (the fallback base), else the page URL itself."""
    if base_href is not None:
        resolved = resolve_url(page_url, base_href)
        if resolved is not None:
            return resolved
    return page_url


def links_from_node(node: DomNode) -> list[tuple[int, str, str, int]]:
    """All <a href> links under `node` in document order:
    (ordinal, href, whitespace-collapsed anchor text, nofollow 0/1).
    Anchors without an href (targets) are skipped; nested text
    (em/img alt/...) flattens into the anchor string the same way the
    renderer flattens it; nofollow=1 when rel contains the nofollow
    token (a link-graph consumer must not treat those as endorsements)."""
    out: list[tuple[int, str, str, int]] = []

    def anchor_text(n: DomNode) -> str:
        parts = []
        stack = [n]
        while stack:
            n = stack.pop()
            if n.kind == "text":
                parts.append(n.text or "")
            elif n.kind == "element" and (n.name or "").lower() == "img":
                parts.append(n.attrs.get("alt", ""))
            else:
                stack.extend(reversed(n.children))
        return "".join(parts)

    stack = [node]
    while stack:
        n = stack.pop()
        if n.kind == "element" and (n.name or "").lower() == "a":
            href = n.attrs.get("href")
            if href is not None:
                rels = (n.attrs.get("rel") or "").lower().split()
                out.append(
                    (
                        len(out),
                        href,
                        _collapse_ws(anchor_text(n)),
                        1 if "nofollow" in rels else 0,
                    )
                )
                continue  # links don't nest (the parser un-nests <a>)
        stack.extend(reversed(n.children))
    return out


def _resolve_links(
    links: list[tuple[int, str, str, int]], base: str | None
) -> list[tuple[int, str, str, int, str | None]]:
    """resolve_url over a page's link list with the base validity check
    hoisted out of the per-link loop (the base is one string per page;
    urllib's 20-entry parse cache thrashes once a page has more hrefs
    than that)."""
    ok = _base_ok(base)
    return [
        (o, href, anchor, nf, resolve_url(base, href, ok))
        for o, href, anchor, nf in links
    ]


def extract_main_links(
    html: bytes | str, config=None, base_url: str | None = None
) -> list[tuple[int, str, str, int, str | None]]:
    """Outbound links of the MAIN content only (the crawl-graph edges a
    curation pipeline wants — chrome/nav/footer links are exactly the
    noise this tier exists to drop).  Same strip+score pass as
    extract_main; no rendering.  Each tuple is (ordinal, raw href,
    anchor, nofollow, target_abs) where target_abs is the RFC-3986
    resolution of href against the page's effective base (<base href>
    honoured, first-wins) — real pages are full of href="/about" and
    "../x.html", which are unusable as frontier edges unresolved."""
    from .api import _free_dom, plain_config

    if config is None:
        config = plain_config()
    dom = parse_html(html, xml_mode=config.xml)
    try:
        base = effective_base(base_url, base_href_from_dom(dom))
        winner, _ = extract_main_node(dom)
        return _resolve_links(links_from_node(winner), base)
    finally:
        _free_dom(dom)


def extract_main(html: bytes | str, width: int = 80, config=None) -> str:
    """Parse → strip boilerplate → pick the main-content subtree → render
    it with the normal engine pipeline.  Raises the same RenderError
    family as html_to_text (TooNarrow etc.)."""
    return extract_main_ex(html, width, config)["text"]


def extract_main_full(
    html: bytes | str, width: int = 80, config=None, base_url: str | None = None
) -> dict:
    """One-parse fusion of the whole extraction tier's per-page work:
    {text, winner_tag, score, n_candidates, links, meta} — a pipeline
    that wants extracted text AND the main-content link graph AND head
    metadata must not parse the page three times (at crawl scale the
    parse is ~a quarter of the kernel).  `links` and `meta` are exactly
    what extract_main_links / metadata.page_metadata return on the same
    bytes (pinned by test)."""
    from .api import plain_config
    from .metadata import metadata_from_dom

    if config is None:
        config = plain_config()
    dom = parse_html(html, xml_mode=config.xml)
    # metadata first: it reads the pre-strip DOM (head survives the strip
    # today, but the contract is "same as page_metadata on raw bytes")
    meta = metadata_from_dom(dom)
    out = _extract_ex_from_dom(dom, width, config, base_url)
    out["meta"] = meta
    return out


def extract_main_ex(
    html: bytes | str, width: int = 80, config=None, base_url: str | None = None
) -> dict:
    """extract_main plus the scoring lineage
    {text, winner_tag, score, n_candidates, links}."""
    from .api import plain_config

    if config is None:
        config = plain_config()
    dom = parse_html(html, xml_mode=config.xml)
    return _extract_ex_from_dom(dom, width, config, base_url)


def _extract_ex_from_dom(
    dom: DomNode, width: int, config, base_url: str | None = None
) -> dict:
    """Strip + score + render an already-parsed DOM (consumes it)."""
    from .api import _HtmlContext, _free_dom
    from .errors import Fail, TooNarrow
    from .lower import dom_to_render_tree
    from .render import render_tree_to_string

    try:
        # <base> lives in <head>: read it before the strip discards it
        base = effective_base(base_url, base_href_from_dom(dom))
        winner, info = extract_main_node(dom)
        info["links"] = _resolve_links(links_from_node(winner), base)
        wrapped = _wrap_as_document(winner)
        context = _HtmlContext(config)
        render_tree = dom_to_render_tree(wrapped, context)
        if render_tree is None:
            raise Fail("no render tree")
        if width == 0:
            raise TooNarrow()
        decorator = config.make_decorator()
        from .subrender import SubRenderer

        builder = SubRenderer(width, config.render_options(), decorator)
        renderer = render_tree_to_string(
            context, builder, decorator.make_subblock_decorator(), render_tree
        )
        info["text"] = renderer.into_string()
        return info
    finally:
        _free_dom(dom)
