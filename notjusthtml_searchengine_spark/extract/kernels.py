"""The extraction kernels U1 (links+keywords) and U2 (visible text).

Semantics reproduced from the reference, pinned by golden tests:

U1 — links + keywords (/root/reference/linkNodeParsing.go:14-131):
  * every node is visited in document pre-order (getAllLinks walks
    self + siblings + children — i.e. the full tree from the root);
  * a link is emitted *per matching attribute*: a node carrying both
    ``href`` and ``src`` emits TWO links (the attr loop at
    linkNodeParsing.go:16-45 has no break after a successful emit);
  * the destination is ``origin.ResolveReference(parse(attr_value))``
    re-serialized (linkNodeParsing.go:18-28);
  * an unparseable attr value aborts the *attr loop* for that node
    (``break`` at linkNodeParsing.go:24) — attrs after it emit nothing;
  * keywords = every text node in the link node's subtree (self
    included), cleaned with stringsx.Clean (F12), weighted by the
    nearest enclosing h1..h7 multiplier 10..4 (default 1), inherited
    downward (extractKeywords, linkNodeParsing.go:97-131). The
    heading switch runs on *every* node's Data before the text-node
    check, so a text node whose raw content is exactly "h1".."h7"
    adopts that multiplier — faithful quirk, pinned by test;
  * a keyword row is emitted when the *raw* node text is non-empty,
    even if it cleans to "" (the check at linkNodeParsing.go:117 is
    on the raw Data).

U2 — visible text (the input_hint invariant): cleaned text nodes in
document pre-order whose cleaned form is non-empty, joined by a
single space. The corpus generator produces the golden ``text``
column from its structural spec with the same rule, so the kernel is
asserted byte-identical against goldens it did not produce.
"""

from __future__ import annotations

from ..functions.textclean import go_clean
from ..functions.urlnorm import resolve
from .html_tree import TEXT, Node, parse_html, parse_page

_HEADING_MULT = {"h1": 10, "h2": 9, "h3": 8, "h4": 7, "h5": 6, "h6": 5, "h7": 4}


def extract_keywords(node: Node, multiplier: int = 1) -> list[tuple[int, str]]:
    """Reference extractKeywords: [(visibility, cleaned_text), ...].

    A fast path for the dominant link shapes — an element with no
    children or exactly one text child — computes what ``_walk_keywords``
    computes for those trees (the raw-text-named-hN multiplier quirk on
    the child included; the tree builders never make an empty text
    node, so the child's raw text is non-empty). Every other shape takes
    the walk. Pinned by a differential test."""
    if node.type != TEXT:
        ch = node.children
        if not ch:
            return []
        if len(ch) == 1 and ch[0].type == TEXT:
            data = ch[0].data
            m = _HEADING_MULT.get(node.data, multiplier)
            return [(_HEADING_MULT.get(data, m), go_clean(data))]
    return _walk_keywords(node, multiplier)


def _walk_keywords(node: Node, multiplier: int) -> list[tuple[int, str]]:
    """The generic extractKeywords: iterative pre-order with the heading
    multiplier carried on the stack — identical emission order and
    inheritance semantics to the recursive form (self first, children
    left-to-right), without the per-node Python call overhead (r6)."""
    get_mult = _HEADING_MULT.get
    out: list[tuple[int, str]] = []
    stack = [(node, multiplier)]
    pop = stack.pop
    while stack:
        n, mult = pop()
        mult = get_mult(n.data, mult)
        if n.type == TEXT and n.data != "":
            out.append((mult, go_clean(n.data)))
        for child in reversed(n.children):
            stack.append((child, mult))
    return out


def extract_links(origin_url: str, html_bytes: bytes) -> list[dict]:
    """Reference getAllLinks over one page.

    Returns [{"dest_url": str, "keywords": [{"visibility", "text"}]}]
    in document order (the reference's channel order for one page).
    """
    _, link_nodes = parse_page(html_bytes)
    links: list[dict] = []
    # link_nodes = the href/src-carrying elements in document pre-order
    # (collected during parse, r6) — iterating them is equivalent to
    # walking every element and skipping those whose attr loop below
    # would emit nothing.
    for node in link_nodes:
        emitted_keywords = None
        for key, val in node.attrs:
            if key not in ("href", "src"):
                continue
            dest = resolve(origin_url, val)
            if dest is None:
                break  # parse error aborts this node's attr loop
            if emitted_keywords is None:
                emitted_keywords = [
                    {"visibility": v, "text": t} for v, t in extract_keywords(node, 1)
                ]
            links.append({"dest_url": dest, "keywords": emitted_keywords})
    return links


def visible_text(html_bytes: bytes) -> str:
    """Kernel U2: cleaned non-empty text nodes, pre-order, space-joined."""
    root = parse_html(html_bytes)
    parts = []
    for node in root.text_nodes():
        cleaned = go_clean(node.data)
        if cleaned:
            parts.append(cleaned)
    return " ".join(parts)
