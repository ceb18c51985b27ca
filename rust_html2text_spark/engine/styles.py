"""CSS cascade data model.

Re-derives the reference's style machinery: `WithSpec` cascade-update rules
(/root/reference/src/lib.rs:287-336), `ComputedStyle` (lib.rs:349-374),
selector matching (/root/reference/src/css.rs:108-234), specificity
(css.rs:239-264) and `StyleData::computed_style` (css.rs:539-660).
"""

from __future__ import annotations

from .wrapped import WS_NORMAL, WS_PRE, WS_PRE_WRAP  # noqa: F401  (re-export)

# Style origins, ordered None < Agent < User < Author (lib.rs:210-219)
ORIGIN_NONE = 0
ORIGIN_AGENT = 1
ORIGIN_USER = 2
ORIGIN_AUTHOR = 3

# display values
DISPLAY_NONE = 1
DISPLAY_RAW_DOM = 2


class Specificity:
    """(inline, id, class, type) ordering (lib.rs:221-285)."""

    __slots__ = ("inline", "id", "cls", "typ")

    def __init__(self, inline=False, id=0, cls=0, typ=0):
        self.inline = inline
        self.id = id
        self.cls = cls
        self.typ = typ

    def key(self):
        return (self.inline, self.id, self.cls, self.typ)

    def __lt__(self, other):
        return self.key() < other.key()

    def add(self, other: "Specificity") -> "Specificity":
        return Specificity(
            self.inline or other.inline,
            self.id + other.id,
            self.cls + other.cls,
            self.typ + other.typ,
        )


SPEC_DEFAULT = Specificity()
SPEC_INLINE = Specificity(inline=True)


class WithSpec:
    __slots__ = ("val", "origin", "specificity", "important")

    def __init__(self):
        self.val = None
        self.origin = ORIGIN_NONE
        self.specificity = SPEC_DEFAULT
        self.important = False

    def clone(self) -> "WithSpec":
        out = WithSpec.__new__(WithSpec)
        out.val = self.val
        out.origin = self.origin
        out.specificity = self.specificity
        out.important = self.important
        return out

    def maybe_update(self, important: bool, origin: int, specificity: Specificity, val):
        """Cascade-priority update (lib.rs:294-331)."""
        if self.val is not None:
            if self.important and not important:
                return
            if self.origin != origin:
                if (important and origin > self.origin) or (
                    not important and self.origin > origin
                ):
                    return
            if specificity < self.specificity:
                return
        self.val = val
        self.origin = origin
        self.specificity = specificity
        self.important = important


class ComputedStyle:
    __slots__ = (
        "colour",
        "bg_colour",
        "display",
        "white_space",
        "content",
        "syntax",
        "content_before",
        "content_after",
        "internal_pre",
    )

    def __init__(self):
        self.colour = WithSpec()
        self.bg_colour = WithSpec()
        self.display = WithSpec()
        self.white_space = WithSpec()
        self.content = WithSpec()
        self.syntax = WithSpec()
        self.content_before: ComputedStyle | None = None
        self.content_after: ComputedStyle | None = None
        self.internal_pre = False

    def inherit(self) -> "ComputedStyle":
        out = ComputedStyle.__new__(ComputedStyle)
        out.colour = self.colour.clone()
        out.bg_colour = self.bg_colour.clone()
        out.display = self.display.clone()
        out.white_space = self.white_space.clone()
        out.content = self.content.clone()
        out.syntax = self.syntax.clone()
        out.content_before = self.content_before
        out.content_after = self.content_after
        out.internal_pre = self.internal_pre
        return out


DEFAULT_STYLE = ComputedStyle()


# --- selectors ---------------------------------------------------------------

# component kinds
C_CLASS = 0
C_ELEMENT = 1
C_HASH = 2
C_STAR = 3
C_COMB_CHILD = 4
C_COMB_DESC = 5
C_NTH_CHILD = 6
C_ATTR = 7


class SelectorComponent:
    __slots__ = ("kind", "name", "value", "a", "b", "sel", "op_equal")

    def __init__(self, kind, name=None, value=None, a=0, b=0, sel=None, op_equal=False):
        self.kind = kind
        self.name = name
        self.value = value
        self.a = a
        self.b = b
        self.sel = sel
        self.op_equal = op_equal


class Selector:
    """Components stored right-to-left (leaf first), css.rs:86-91."""

    __slots__ = ("components", "pseudo_element")

    def __init__(self, components=None, pseudo_element=None):
        self.components = components or []
        self.pseudo_element = pseudo_element  # None | "before" | "after"

    def matches(self, node) -> bool:
        return _do_matches(self.components, 0, node)

    def specificity(self) -> Specificity:
        result = Specificity()
        for comp in self.components:
            k = comp.kind
            if k in (C_CLASS, C_ATTR):
                result.cls += 1
            elif k == C_ELEMENT:
                result.typ += 1
            elif k == C_HASH:
                result.id += 1
            elif k == C_NTH_CHILD:
                result.cls += 1
                sub = comp.sel.specificity()
                result = result.add(sub)
        return result


def _do_matches(comps, i, node) -> bool:
    """css.rs:108-234, matched right-to-left."""
    if i >= len(comps):
        return True
    comp = comps[i]
    k = comp.kind
    if k == C_CLASS:
        if node.kind != "element":
            return False
        cls_attr = node.attrs.get("class")
        if cls_attr is not None and comp.name in cls_attr.split():
            return _do_matches(comps, i + 1, node)
        return False
    if k == C_ATTR:
        if node.kind != "element":
            return False
        if comp.name in node.attrs:
            if not comp.op_equal:
                return _do_matches(comps, i + 1, node)
            if node.attrs[comp.name] == comp.value:
                return _do_matches(comps, i + 1, node)
            return False
        return False
    if k == C_HASH:
        if node.kind == "element" and node.attrs.get("id") == comp.name:
            return _do_matches(comps, i + 1, node)
        return False
    if k == C_ELEMENT:
        if node.kind == "element" and node.name == comp.name:
            return _do_matches(comps, i + 1, node)
        return False
    if k == C_STAR:
        return _do_matches(comps, i + 1, node)
    if k == C_COMB_CHILD:
        parent = node.parent
        if parent is not None:
            return _do_matches(comps, i + 1, parent)
        return False
    if k == C_COMB_DESC:
        parent = node.parent
        if parent is not None:
            return _do_matches(comps, i + 1, parent) or _do_matches(comps, i, parent)
        return False
    if k == C_NTH_CHILD:
        parent = node.parent
        if parent is None:
            return False
        idx = 0
        for child in parent.children:
            if child.kind == "element":
                if comp.sel.matches(child):
                    idx += 1
                    if child is node:
                        break
                elif child is node:
                    return False
        if idx == 0:
            return False
        idx_offset = idx - comp.b
        if comp.a == 0:
            return idx_offset == 0 and _do_matches(comps, i + 1, node)
        if idx_offset % comp.a != 0:
            return False
        n = idx_offset // comp.a
        return n >= 0 and _do_matches(comps, i + 1, node)
    return False


# --- style declarations / rulesets -------------------------------------------

S_COLOUR = 0
S_BG_COLOUR = 1
S_DISPLAY = 2
S_WHITE_SPACE = 3
S_CONTENT = 4
S_SYNTAX = 5


class StyleDecl:
    __slots__ = ("kind", "value", "important")

    def __init__(self, kind, value, important=False):
        self.kind = kind
        self.value = value
        self.important = important


class Ruleset:
    __slots__ = ("selector", "styles")

    def __init__(self, selector: Selector, styles: list[StyleDecl]):
        self.selector = selector
        self.styles = styles


class StyleData:
    def __init__(self):
        self.agent_rules: list[Ruleset] = []
        self.user_rules: list[Ruleset] = []
        self.author_rules: list[Ruleset] = []
        self._index = None
        self._tags = None

    def clone(self) -> "StyleData":
        out = StyleData()
        out.agent_rules = list(self.agent_rules)
        out.user_rules = list(self.user_rules)
        out.author_rules = list(self.author_rules)
        return out

    def merge(self, other: "StyleData") -> None:
        self.agent_rules.extend(other.agent_rules)
        self.user_rules.extend(other.user_rules)
        self.author_rules.extend(other.author_rules)
        self._index = None
        self._tags = None

    def _index_for(self, origin: int, rules: list[Ruleset]):
        """Pre-filter index: rules keyed by rightmost Element name (falling
        back to a generic bucket).  Match ORDER within each candidate list
        is preserved (same origin ordering as the flat scan)."""
        by_element: dict = {}
        generic: list = []
        for order, rule in enumerate(rules):
            comps = rule.selector.components
            spec = rule.selector.specificity()
            entry = (order, origin, rule, spec)
            if comps and comps[0].kind == C_ELEMENT:
                by_element.setdefault(comps[0].name, []).append(entry)
            else:
                generic.append(entry)
        return by_element, generic

    def _get_index(self):
        idx = getattr(self, "_index", None)
        if idx is None:
            idx = [
                self._index_for(ORIGIN_AGENT, self.agent_rules),
                self._index_for(ORIGIN_USER, self.user_rules),
                self._index_for(ORIGIN_AUTHOR, self.author_rules),
            ]
            self._index = idx
        return idx

    def cascade_tags(self):
        """The element names that some rule's rightmost component names,
        or None when a rule without one (`.c`, `*`, `#id`) may match any
        element.  Without document CSS, an element whose name is not in
        the set matches no rule, so its computed style is its parent's."""
        if getattr(self, "_tags", None) is None:
            tags = set()
            for by_element, generic in self._get_index():
                if generic:
                    self._tags = (None,)
                    return None
                tags.update(by_element)
            self._tags = (frozenset(tags),)
        return self._tags[0]

    def computed_style(self, parent_style: ComputedStyle, node, use_doc_css: bool) -> ComputedStyle:
        """css.rs:539-620."""
        if not use_doc_css and not (
            self.agent_rules or self.user_rules or self.author_rules
        ):
            # no stylesheets at all (the plain-config path): nothing can
            # match, the cascade below would return parent_style anyway
            return parent_style
        name = node.name if node.kind == "element" else None
        matched = []
        for by_element, generic in self._get_index():
            elem_cands = by_element.get(name)
            if elem_cands is None:
                cands = generic
            elif not generic:
                cands = elem_cands
            else:  # merge back into declaration order within the origin
                cands = sorted(generic + elem_cands)
            for _order, origin, rule, spec in cands:
                if rule.selector.matches(node):
                    matched.append((origin, rule, spec))

        if not matched and not use_doc_css:
            # nothing to cascade: the inherited style is unchanged — share it
            return parent_style

        result = parent_style.inherit()
        for origin, rule, spec in matched:
            for style in rule.styles:
                _merge_computed_style(
                    result,
                    style.important,
                    origin,
                    spec,
                    rule.selector.pseudo_element,
                    style,
                )

        if use_doc_css and node.kind == "element":
            from . import cssparse

            for attr_name, attr_value in node.attrs.items():
                if attr_name == "style":
                    for style in cssparse.parse_style_attribute(attr_value):
                        _merge_computed_style(
                            result, False, ORIGIN_AUTHOR, SPEC_INLINE, None, style
                        )
                elif attr_name == "color":
                    col = cssparse.parse_color_attribute(attr_value)
                    if col is not None:
                        _merge_computed_style(
                            result,
                            False,
                            ORIGIN_AUTHOR,
                            SPEC_INLINE,
                            None,
                            StyleDecl(S_COLOUR, col),
                        )
                elif attr_name == "bgcolor":
                    col = cssparse.parse_color_attribute(attr_value)
                    if col is not None:
                        _merge_computed_style(
                            result,
                            False,
                            ORIGIN_AUTHOR,
                            SPEC_INLINE,
                            None,
                            StyleDecl(S_BG_COLOUR, col),
                        )
        return result


def _merge_computed_style(result, important, origin, specificity, pseudo, style: StyleDecl):
    if pseudo is None:
        target = result
    elif pseudo == "before":
        if result.content_before is None:
            result.content_before = ComputedStyle()
        target = result.content_before
    else:
        if result.content_after is None:
            result.content_after = ComputedStyle()
        target = result.content_after

    k = style.kind
    if k == S_COLOUR:
        target.colour.maybe_update(important, origin, specificity, style.value)
    elif k == S_BG_COLOUR:
        target.bg_colour.maybe_update(important, origin, specificity, style.value)
    elif k == S_DISPLAY:
        target.display.maybe_update(important, origin, specificity, style.value)
    elif k == S_WHITE_SPACE:
        target.white_space.maybe_update(important, origin, specificity, style.value)
    elif k == S_CONTENT:
        target.content.maybe_update(important, origin, specificity, style.value)
    elif k == S_SYNTAX:
        target.syntax.maybe_update(important, origin, specificity, style.value)


def make_surround_rule(element: str, after: bool, content: str) -> Ruleset:
    """lib.rs:3190-3214 (`do_decorate` agent rules)."""
    return Ruleset(
        Selector(
            [SelectorComponent(C_ELEMENT, name=element)],
            pseudo_element="after" if after else "before",
        ),
        [StyleDecl(S_CONTENT, content)],
    )


def do_decorate_rules() -> list[Ruleset]:
    """Markdown-ish agent rules applied by `config::plain()` (lib.rs:3216-3225)."""
    out = []
    for elt, txt in (
        ("em", "*"),
        ("dt", "*"),
        ("strong", "**"),
        ("b", "**"),
        ("code", "`"),
    ):
        out.append(make_surround_rule(elt, False, txt))
        out.append(make_surround_rule(elt, True, txt))
    return out
