"""Kernels U1/U2/U4 + F8/F9 against spec-derived goldens.

The corpus generator computes goldens from its structural page spec;
the kernels re-derive them by parsing the rendered HTML — two
independent paths (SURVEY.md §5.2.1). U2 is the input_hint's
byte-identical invariant.
"""

import hashlib

from notjusthtml_searchengine_spark.extract.kernels import (
    extract_keywords,
    extract_links,
    visible_text,
)
from notjusthtml_searchengine_spark.extract.html_tree import parse_html
from notjusthtml_searchengine_spark.functions.sniff import detect_content_type
from notjusthtml_searchengine_spark.session import MAX_FILESIZE


def _crawlable(page, golden):
    return (
        golden["content_type"].startswith("text/html")
        and 0 < len(page["html"]) < MAX_FILESIZE
    )


def test_visible_text_byte_identical(corpus):
    for p, g in zip(corpus.pages, corpus.golden):
        if _crawlable(p, g):
            assert visible_text(p["html"]) == p["text"], p["url"]


def test_links_and_keywords_match_golden(corpus):
    checked = 0
    for p, g in zip(corpus.pages, corpus.golden):
        if _crawlable(p, g):
            assert extract_links(p["url"], p["html"]) == g["links"], p["url"]
            checked += 1
    assert checked > 10


def test_content_type_matches_golden(corpus):
    for p, g in zip(corpus.pages, corpus.golden):
        assert detect_content_type(p["html"]) == g["content_type"], p["url"]


def test_sha_golden(corpus):
    for p, g in zip(corpus.pages, corpus.golden):
        assert hashlib.sha1(p["html"]).digest() == g["sha1"]
        assert hashlib.sha512(p["html"]).digest() == g["sha512"]


# ---- pinned reference quirks (linkNodeParsing.go) ---------------------
def test_dual_attr_node_emits_two_links():
    html = b'<html><body><a href="http://a.example/x" src="http://a.example/y">t</a></body></html>'
    links = extract_links("http://o.example/", html)
    assert [l["dest_url"] for l in links] == ["http://a.example/x", "http://a.example/y"]
    # same keywords on both
    assert links[0]["keywords"] == links[1]["keywords"]


def test_heading_multiplier_inherited():
    html = b'<html><body><a href="/x"><h2>two <b>nested</b></h2> plain</a></body></html>'
    links = extract_links("http://o.example/", html)
    kws = links[0]["keywords"]
    assert kws == [
        {"visibility": 9, "text": "two "},
        {"visibility": 9, "text": "nested"},
        {"visibility": 1, "text": " plain"},
    ]


def test_text_node_named_h1_quirk():
    # the reference's switch on rNode.Data runs before the text check:
    # a text node whose raw content is exactly "h1" adopts multiplier 10
    html = b'<html><body><a href="/x">h1</a></body></html>'
    links = extract_links("http://o.example/", html)
    assert links[0]["keywords"] == [{"visibility": 10, "text": "h1"}]


def test_keyword_emitted_for_raw_nonempty_even_if_cleans_empty():
    # raw "\n" is non-empty → keyword row with cleaned text ""
    html = b'<html><body><a href="/x">\n</a></body></html>'
    links = extract_links("http://o.example/", html)
    assert links[0]["keywords"] == [{"visibility": 1, "text": ""}]


def test_quirks_in_multi_child_links():
    """The two quirks above on links with several children, which take
    the generic walk rather than extract_keywords' fast path."""
    html = b'<html><body><a href="/x">h1<b>bold</b></a><a href="/y">\n<i>h3</i></a></body></html>'
    links = extract_links("http://o.example/", html)
    assert links[0]["keywords"] == [
        {"visibility": 10, "text": "h1"},
        {"visibility": 1, "text": "bold"},
    ]
    assert links[1]["keywords"] == [
        {"visibility": 1, "text": ""},
        {"visibility": 8, "text": "h3"},
    ]


def test_extract_keywords_fast_path_equals_generic_walk():
    """extract_keywords' fast path (no children, or one text child) gives
    what the generic walk gives, on those shapes and on multi-child
    ones, under an inherited multiplier too."""
    from notjusthtml_searchengine_spark.extract.html_tree import parse_page
    from notjusthtml_searchengine_spark.extract.kernels import _walk_keywords

    bodies = [
        "", "plain", "h1", "h7", "h8", "\n", "  two  words ", "fish &amp; chips",
        "<b>bold</b>", "<h2>head</h2>", "<h2>h1</h2>", "h1<b>bold</b>",
        "<b>x</b>h2", "\n<i>h3</i>", "a<h4>b<b>h1</b>c</h4>d", "<br>h5",
    ]
    shapes = {0: 0, 1: 0, "multi": 0}
    for tag in ("a", "h1", "h3"):
        for body in bodies:
            html = f'<html><body><{tag} href="/x">{body}</{tag}></body></html>'
            node = parse_page(html.encode())[1][0]
            n = len(node.children)
            shapes[n if n < 2 else "multi"] += 1
            for mult in (1, 6):
                assert extract_keywords(node, mult) == _walk_keywords(node, mult), (
                    html,
                    mult,
                )
    assert all(shapes.values()), shapes


def test_src_links_extracted_from_img_and_script():
    html = (
        b'<html><body><img src="http://a.example/i.png"/>'
        b'<script src="app.js"></script></body></html>'
    )
    links = extract_links("http://o.example/p/1", html)
    assert [l["dest_url"] for l in links] == [
        "http://a.example/i.png",
        "http://o.example/p/app.js",
    ]
    assert links[0]["keywords"] == []


def test_relative_resolution_against_page_url():
    html = b'<html><body><a href="../up">u</a><a href="sib">s</a></body></html>'
    links = extract_links("http://o.example/a/b/c", html)
    assert [l["dest_url"] for l in links] == [
        "http://o.example/a/up",
        "http://o.example/a/b/sib",
    ]


def test_extract_keywords_entity_decoding():
    root = parse_html(b"<p>fish &amp; chips &lt;3</p>")
    kws = extract_keywords(root)
    assert kws == [(1, "fish & chips <3")]


def _tree_eq(a, b):
    return (
        a.type == b.type
        and a.data == b.data
        and a.attrs == b.attrs
        and len(a.children) == len(b.children)
        and all(_tree_eq(x, y) for x, y in zip(a.children, b.children))
    )


def test_fast_tokenizer_differential_fuzz():
    """r6: the strict-subset fast tokenizer must produce the EXACT
    tree html.parser produces — on subset documents because the
    grammar is equivalent, on everything else because it bails out.
    Fuzz with pieces biased at the grammar boundary: every quote
    style, valueless/duplicate/weird attrs, self-closing, stray '<',
    entities, comments, script/style, unterminated tags, NULs."""
    import random

    from notjusthtml_searchengine_spark.extract.html_tree import (
        _TreeBuilder,
        _parse_fast,
    )

    def slow(s):
        b = _TreeBuilder()
        b.feed(s)
        b.close()
        return b.root

    pieces = [
        "text and words ", "x < y ", "<3 ", "a > b ", "&amp; ", "&notent ",
        "<p>", "</p>", "<div>", "</div>", "<h1>", "</h1>", "<h2>", "</h2>",
        "<br>", "<br/>", "<br />", "<img src=x>", "<img src='y'/>",
        '<a href="http://h.example/p/1">', "<a href=rel/p>", "</a>",
        "<a href=x title='t'>", '<a href="a b" data-x>', "<a checked>",
        "<a a=1 a=2>", "<A HREF=UP>", "<a-b>", "</a-b>",
        "<a href=>", "<a href= >", "<a href='unterminated>",
        "<a href=\"q\"x=y>", "<a x=`tick`>", "<a x==y>",
        "<!-- comment -->", "<!doctype html>", "<?pi?>",
        "<script>var x=1;</script>", "<style>.a{}</style>",
        "<a\thref='tab'>", "< notag>", "</ p>", "</p >", "</p/>",
        "<p", "text\x00nul", "<ul><li>item</li></ul>",
    ]
    def _ref_link_nodes(root):
        # independent re-derivation of the collected list: elements
        # carrying href/src, document pre-order
        return [
            n
            for n in root.pre_order()
            if n.type == 1 and any(k in ("href", "src") for k, _ in n.attrs)
        ]

    rng = random.Random(13)
    n_fast = 0
    n_links = 0
    for i in range(4000):
        doc = "".join(
            rng.choice(pieces) for _ in range(rng.randrange(1, 14))
        )
        res = _parse_fast(doc)
        if res is None:
            continue  # bailed — html.parser path used either way
        n_fast += 1
        fast, fast_links = res
        b = _TreeBuilder()
        b.feed(doc)
        b.close()
        assert _tree_eq(fast, b.root), repr(doc)
        # link-node collection (r6): both builders must collect exactly
        # the href/src elements of their own tree, in pre-order, by
        # node identity
        ref_fast = _ref_link_nodes(fast)
        assert len(fast_links) == len(ref_fast) and all(
            a is c for a, c in zip(fast_links, ref_fast)
        ), repr(doc)
        ref_slow = _ref_link_nodes(b.root)
        assert len(b.link_nodes) == len(ref_slow) and all(
            a is c for a, c in zip(b.link_nodes, ref_slow)
        ), repr(doc)
        n_links += len(fast_links)
    # the generator must actually exercise the fast path AND links
    assert n_fast > 300, n_fast
    assert n_links > 100, n_links


def test_fast_tokenizer_on_corpus_pages(corpus):
    """Every generator corpus page must parse identically through the
    fast path and html.parser (and the bench corpus shape is simple
    enough that the fast path actually takes it)."""
    from notjusthtml_searchengine_spark.extract.html_tree import (
        _TreeBuilder,
        _parse_fast,
    )

    n_fast = 0
    for p in corpus.pages:
        s = p["html"].decode("utf-8", errors="replace")
        res = _parse_fast(s)
        if res is None:
            continue
        n_fast += 1
        fast, fast_links = res
        b = _TreeBuilder()
        b.feed(s)
        b.close()
        assert _tree_eq(fast, b.root), p["url"]
        assert [(n.data, n.attrs) for n in fast_links] == [
            (n.data, n.attrs) for n in b.link_nodes
        ], p["url"]
    assert n_fast > 0
