"""Lightweight DOM + block segmentation for boilerplate stripping.

Stdlib ``html.parser.HTMLParser`` builds a tolerant element tree (no
external deps in this environment); the tree is then flattened into an
ordered list of *blocks* — maximal runs of inline content under a
block-level element — carrying the shallow text features that the
boilerplate classifier consumes (word counts, anchor-word counts, link
density, ancestor class/id tokens), after Kohlschuetter et al.,
"Boilerplate Detection Using Shallow Text Features" (WSDM 2010).

This module is pure Python and UDF-local: one document per call, inside
an Arrow batch. Nothing here touches Spark.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html import unescape as _unescape

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Tags that open a new text block when entered (CSS display:block-ish).
BLOCK_TAGS = frozenset(
    (
        "address article aside blockquote body caption dd details dialog div dl dt "
        "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr "
        "html li main nav ol p pre section summary table tbody td tfoot th thead tr ul"
    ).split()
)

HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# Entire subtrees that are semantically never main content.
SKIP_TAGS = frozenset({"script", "style", "noscript", "template", "head", "svg"})

SEMANTIC_BOILER_TAGS = frozenset({"nav", "footer", "aside", "form"})


_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)


@dataclass
class Element:
    tag: str
    attrs_raw: str = ""
    parent: "Element | None" = None
    children: list = field(default_factory=list)  # Element | str (text)
    depth: int = 0
    _attrs: dict | None = None
    _tokens: set | None = None

    @property
    def attrs(self) -> dict:
        """Attributes parsed lazily from the raw tag text — most elements
        never have theirs read (hot path: only class/id/src matter)."""
        if self._attrs is None:
            if self.attrs_raw:
                self._attrs = {
                    m.group(1).lower(): _unescape(
                        (v := m.group(2) or "").strip("\"'")
                    )
                    for m in _ATTR_RE.finditer(self.attrs_raw)
                }
            else:
                self._attrs = {}
        return self._attrs

    def class_tokens(self) -> set[str]:
        """Lowercased alnum tokens of this element's class/id attributes.
        Memoized: every block's context inherit re-reads them (hot path)."""
        if self._tokens is not None:
            return self._tokens
        if "class" not in self.attrs_raw and "id" not in self.attrs_raw:
            self._tokens = frozenset()
            return self._tokens
        raw = f"{self.attrs.get('class', '')} {self.attrs.get('id', '')}".lower()
        out, cur = set(), []
        for ch in raw:
            if ch.isalnum():
                cur.append(ch)
            elif cur:
                out.add("".join(cur))
                cur = []
        if cur:
            out.add("".join(cur))
        self._tokens = out
        return out

    def ancestors(self):
        node = self
        while node is not None:
            yield node
            node = node.parent


# one pass over the markup: comments/doctype/PI, or a start/end tag with
# its raw attribute text; everything between matches is character data
_MARKUP_RE = re.compile(
    r"<!--.*?(?:-->|$)"
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<![^>]*>"
    r"|<\?[^>]*>"
    r"|<\s*(/?)\s*([a-zA-Z][-a-zA-Z0-9:]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)(/?)\s*>",
    re.S,
)

# raw-text elements: content runs to the matching close tag, never parsed
_RAWTEXT = {
    t: re.compile(rf"</\s*{t}\s*>", re.I)
    for t in ("script", "style", "textarea", "title")
}


def parse_html(html: str) -> Element:
    """Tolerant single-pass tree build (regex tokenizer — ~5x faster than
    the stdlib HTMLParser on this workload, same tree): mismatched end
    tags pop to the nearest match (or are ignored), void tags never push,
    SKIP_TAGS subtrees are dropped, script/style bodies are raw text,
    entities decode in text nodes only when present."""
    root = Element("#root")
    stack = [root]
    skip_depth = 0
    pos = 0
    n = len(html)
    while pos < n:
        m = _MARKUP_RE.search(html, pos)
        end = m.start() if m else n
        if end > pos and not skip_depth:
            text = html[pos:end]
            if "&" in text:
                text = _unescape(text)
            stack[-1].children.append(text)
        if not m:
            break
        pos = m.end()
        tag = m.group(2)
        if tag is None:  # comment / doctype / PI
            continue
        tag = tag.lower()
        if m.group(1):  # end tag
            if skip_depth:
                if tag in SKIP_TAGS:
                    skip_depth -= 1
                continue
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    break
            continue
        if tag in _RAWTEXT:  # script/style/textarea/title: skip body
            cm = _RAWTEXT[tag].search(html, pos)
            pos = cm.end() if cm else n
            continue
        if skip_depth:
            if tag in SKIP_TAGS:
                skip_depth += 1
            continue
        if tag in SKIP_TAGS:
            skip_depth = 1
            continue
        el = Element(
            tag, m.group(3) or "", parent=stack[-1], depth=len(stack)
        )
        stack[-1].children.append(el)
        if not m.group(4) and tag not in VOID_TAGS:
            stack.append(el)
    return root


@dataclass
class Block:
    """One segment of the flattened document: a run of inline text, a
    heading, or a media element — plus the shallow features used by the
    classifier (web/boilerplate.py)."""

    index: int
    kind: str  # 'text' | 'heading' | 'media'
    text: str
    media_ref: str | None
    container: Element
    n_words: int = 0
    n_anchor_words: int = 0
    class_tokens: set = field(default_factory=set)
    semantic_boiler: bool = False
    in_figure: bool = False  # caption text rides with its media item
    label: str = ""  # filled by the classifier: 'content' | 'boiler'

    @property
    def link_density(self) -> float:
        return self.n_anchor_words / self.n_words if self.n_words else 0.0


def _normalize(fragments: list[str]) -> str:
    return " ".join("".join(fragments).split())


def segment_blocks(root: Element) -> list[Block]:
    """Flatten the tree into ordered blocks. A block closes whenever a
    block-level element starts or ends; <img> emits a media block at its
    position; anchor text is tallied separately for link density.

    Ancestor context (class/id tokens, semantic-boiler subtrees, figure
    subtrees) is threaded DOWN the single DOM walk instead of re-walking
    the parent chain per block — O(nodes), not O(blocks x depth). A
    <header> is chrome only at page level: entering one inside
    <article>/<main> does not mark the subtree boilerplate."""
    blocks: list[Block] = []
    frags: list[str] = []
    anchor_frags: list[str] = []
    # context of the currently open block container
    ctx = {
        "container": root,
        "tokens": frozenset(),
        "semantic": False,
        "figure": False,
    }

    def flush():
        text = _normalize(frags)
        if text:
            container = ctx["container"]
            kind = "heading" if container.tag in HEADING_TAGS else "text"
            anchor_words = len(_normalize(anchor_frags).split())
            blocks.append(
                Block(
                    index=len(blocks),
                    kind=kind,
                    text=text,
                    media_ref=None,
                    container=container,
                    n_words=len(text.split()),
                    n_anchor_words=anchor_words,
                    class_tokens=ctx["tokens"],
                    semantic_boiler=ctx["semantic"],
                    in_figure=ctx["figure"],
                )
            )
        frags.clear()
        anchor_frags.clear()

    def walk(el, in_anchor, tokens, semantic, figure, in_article):
        for child in el.children:
            if isinstance(child, str):
                frags.append(child)
                if in_anchor:
                    anchor_frags.append(child)
                continue
            if child.tag == "img":
                flush()
                blocks.append(
                    Block(
                        index=len(blocks),
                        kind="media",
                        text="",
                        media_ref=child.attrs.get("src") or "",
                        container=child,
                        class_tokens=tokens | child.class_tokens(),
                        semantic_boiler=semantic,
                    )
                )
                continue
            if child.tag == "br":
                frags.append(" ")
                continue
            ctoks = (
                tokens | child.class_tokens() if child.attrs else tokens
            )
            csem = semantic or child.tag in SEMANTIC_BOILER_TAGS or (
                child.tag == "header" and not in_article
            )
            cfig = figure or child.tag in ("figure", "figcaption")
            cart = in_article or child.tag in ("article", "main")
            if child.tag in BLOCK_TAGS:
                flush()
                prev = dict(ctx)
                ctx.update(
                    container=child, tokens=ctoks, semantic=csem, figure=cfig
                )
                walk(child, in_anchor, ctoks, csem, cfig, cart)
                flush()
                ctx.update(prev)
            else:
                # word-boundary markers around each top-level anchor:
                # adjacent <a>x</a><a>y</a> is one text run ("xy", correct
                # HTML semantics) but must count as TWO anchor words, or a
                # link bar's density collapses to ~0
                entering_anchor = child.tag == "a" and not in_anchor
                if entering_anchor:
                    anchor_frags.append(" ")
                walk(
                    child, in_anchor or child.tag == "a",
                    ctoks, csem, cfig, cart,
                )
                if entering_anchor:
                    anchor_frags.append(" ")
        # text directly under the current container after the last child
        # is flushed by the caller

    walk(root, False, frozenset(), False, False, False)
    flush()
    return blocks

