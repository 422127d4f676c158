"""Kernel tests: segmentation / tokenization / html strip.

sent_seg cases mirror the reference's pinned behavior
(/root/reference/tests/utils/test_segmentation.py:6-23).
"""

import pytest

from rex_spark.kernels.textnorm import (
    char_shingles,
    html_to_text,
    ngrams,
    sent_seg,
    tokenize,
)


def test_sent_seg_zh_quotation_modes():
    case = "我说：“翠花，上酸菜。”她说：“欸，好嘞。”"
    assert sent_seg(case) == ["我说：“翠花，上酸菜。”", "她说：“欸，好嘞。”"]
    assert sent_seg(case, quotation_seg_mode=False) == [
        "我说：“翠花，上酸菜。",
        "”她说：“欸，好嘞。",
        "”",
    ]


def test_sent_seg_empty_and_type_error():
    assert sent_seg("") == []
    with pytest.raises(ValueError):
        sent_seg(123)


def test_sent_seg_indicators():
    assert sent_seg("123###456", special_seg_indicators=[("###", "\n")]) == [
        "123",
        "456",
    ]


def test_sent_seg_en_custom_punct():
    assert sent_seg("abcdefg;cgcg.wfwf.", lang="en", punctuations={";"}) == [
        "abcdefg;",
        "cgcg.",
        "wfwf.",
    ]


def test_sent_seg_en_basic():
    assert sent_seg("hello world . next one !", lang="en") == [
        "hello world .",
        "next one !",
    ]


def test_tokenize():
    assert tokenize("Bob Smith WORKS for Acme") == [
        "bob", "smith", "works", "for", "acme",
    ]
    assert tokenize("翠花 在阿里", lang="zh") == ["翠", "花", "在", "阿", "里"]


def test_ngrams_and_shingles():
    assert ngrams(["a", "b", "c"], 2) == ["a b", "b c"]
    assert ngrams(["a"], 3) == ["a"]
    assert ngrams([], 3) == []
    assert char_shingles("Ab  c", 3) == ["ab ", "b c"]
    assert char_shingles("", 3) == []


def test_html_to_text_strips_boilerplate():
    html = (
        b"<html><head><title>T</title><style>p{}</style>"
        b"<script>x=1;</script></head><body>"
        b"<nav><ul><li>Home</li><li>About</li></ul></nav>"
        b"<header><h1>Site</h1></header>"
        b"<article><p>first sentence .</p><p>second   one .</p></article>"
        b"<footer>copyright</footer></body></html>"
    )
    assert html_to_text(html) == "first sentence .\nsecond one ."


def test_html_to_text_deterministic_bytes():
    html = "<p>café &amp; bar</p>".encode("utf-8")
    assert html_to_text(html) == "café & bar"
    # invalid utf-8 is replaced deterministically
    assert html_to_text(b"<p>\xff ok</p>") == "� ok"


def test_fast_html_path_matches_reference():
    """The single-pass scanner must be byte-identical to the pinned
    HTMLParser reference on the corpus and on adversarial inputs
    (falling back to the reference whenever it cannot guarantee it)."""
    from rex_spark.kernels.synth import make_page
    from rex_spark.kernels.textnorm import _html_to_text_reference, html_to_text

    for i in range(300):
        page, _ = make_page(i, seed=42)
        h = bytes(page["html"]).decode("utf-8")
        assert html_to_text(page["html"]) == _html_to_text_reference(h)

    cases = [
        "<p>a &amp; b</p>", "<p>x<br/>y</p>", "<P>UPPER</P>",
        "<div attr='a>b'>q</div>", '<div t="1>2">z</div>',
        "<script>if(a<b){}</script><p>vis</p>",
        "<script></scriptx><p>hidden?</p></script><p>shown</p>",
        "<!-- c --><p>after comment</p>", "<!DOCTYPE html><p>d</p>",
        "<p>3 < 5 sometimes</p>", "<p>unclosed <b>bold",
        "<nav><ul><li>x</li></ul></nav><p>body</p>",
        "<style>p { color: red; }</style><p>v</p>",
        "plain text no tags &lt;tag&gt;", "", "<p></p>",
        "<td>a</td><span>b</span><p>c", "<br>line<br>two",
        "<p>ends with amp &</p>", "<p>&#x41;&#66;</p>",
        "<p>a\nb\tc   d</p>", "<svg><circle/></svg><p>s</p>",
        "<p>q <a href='/x?a=1&b=2'>link</a> r</p>",
        "<noscript><p>no</p></noscript><p>yes</p>",
        "<script src='x.js'/>visible<p>z</p>",
        "<style>@media (a<b) {}</style><p>m</p>",
        # bogus close tags must NOT terminate CDATA (HTMLParser's
        # endtagfind only matches '</ name >'):
        "<script>x</script foo><p>A</p></script><p>B</p>",
        "<script>x</script/><p>A</p></script><p>B</p>",
        "<style>a</style id=1><p>A</p></style><p>B</p>",
        "<script>x</script\t\n><p>ws-close</p>",
        "<script>x</script",
        "<style>y</style  >z<p>w</p>",
        # HTMLParser reads '=' and a quoted value only right after an
        # attribute name of a start tag; anywhere else the tag ends at
        # its first '>' (and a bare value may end in '/'):
        '<E ">">', "<E '>'>", '<p a b="x>y" c>t</p>', '<x ="a>b">t',
        '<x a= b="c>">t', "</p a='>'>t", "<script a=b/>x<p>y</p>",
    ]
    for c in cases:
        assert html_to_text(c) == _html_to_text_reference(c), c


def test_chunk_windows_reference_parity():
    """Pinned outputs from the reference's tests/utils/test_iteration.py
    plus the multiple-shrinking-tails quirk."""
    from rex_spark.kernels.textnorm import chunk_windows

    q = [1, 2, 3, 4, 5]
    assert chunk_windows(q, 2) == [[1, 2], [3, 4], [5]]
    assert chunk_windows(q, 2, 1, drop_last=True) == [
        [1, 2], [2, 3], [3, 4], [4, 5]
    ]
    assert chunk_windows(q, 2, 1, drop_last=False) == [
        [1, 2], [2, 3], [3, 4], [4, 5], [5]
    ]
    # short input yields whole once, even empty
    assert chunk_windows([1], 3) == [[1]]
    assert chunk_windows([], 3) == [[]]
    # shrinking tails without drop_last
    assert chunk_windows(q, 3, 1) == [
        [1, 2, 3], [2, 3, 4], [3, 4, 5], [4, 5], [5]
    ]
