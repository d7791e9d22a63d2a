"""Fast-path vs html.parser tokenizer equivalence.

The fast scanner may only produce output when it tokenizes EXACTLY like
html.parser; anything else must bail to the slow path. These tests compare
``parse_payload`` with and without ``force_slow`` over every corpus we have:
fixtures, the adversarial fuzz corpus, hypothesis-generated tag soup, and a
targeted list of tricky constructs (the documented bail conditions).
"""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.html_blocks import parse_payload

TRICKY = [
    b"<p>a &amp; b</p>",                      # entities -> bail
    b"<!-- c --><p>the data of it</p>",       # comment -> bail
    b"<!DOCTYPE html><p>the data of it</p>",
    b"<?xml version='1'?><p>x</p>",
    b"<p a='>'>quoted gt</p>",
    b'<p a=">">quoted gt</p>',
    b"<a href=/x/>unquoted self-close ambiguity</a>",
    b"<br/><br /><img src='x'/>",
    b"</p x>bogus end tag</p>",
    b"<script>var a = 1 < 2;</script><p>the data of it stays</p>",
    b"<script>'</p>'</script><p>the data of it</p>",   # cdata containing markup
    b"<script x>unclosed",
    # closer variants: space/tab/lead-space forms DO close per html.parser's
    # endtagfind; `</script x>` / `</script/>` do NOT (3.11 swallows the
    # rest as unterminated CDATA) — fast and slow paths must agree on both
    b"<script>a()</script ><p>the data of it</p>",
    b"<style>p{}</style\t><p>the data of it</p>",
    b"<script>b()</ script><p>the data of it</p>",
    b"<script>c()</script x><p>never seen</p>",
    b"<script>d()</script/><p>never seen</p>",
    b"<style>p{color:red}</style><p>the data of it</p>",
    b"<SCRIPT>UP</SCRIPT><P>the upper case of it</P>",
    b"<script></scriptx></script><p>x</p>",
    b"< p>not a tag</p>",
    b"<p>trailing lt <",
    b"<p>lone > gt</p>",
    b"<foo-bar>custom of the element</foo-bar>",
    b"<p\x00nul>weird</p>",
    b"<p title='it''s'>quote soup</p>",
    b"<td>cell</td></tr>stray closes</table>",
    b"<ul><li>the item of it<li>implicit close</ul>",
    # tag names outside [a-zA-Z0-9-]: html.parser takes the full run as the
    # name (`p:x`), so the fast path must bail, not split into name + attrs
    b"<p:x>a<p>the data of it</p>",
    b"<o:p>the word of it</o:p><p>the data of it</p>",
    b"<div.cls>a<div>the data of it</div>",
    b"<a:b href='x'>ns link</a:b><a href='/y'>real link</a>",
    b"<P=>odd</P=><p>the data of it</p>",
    b"<p_u>under</p_u><p>the data of it</p>",
    # a quote inside a bare attribute value: html.parser's value runs to
    # the next whitespace or `>`, so the tag ends at the first `>` and the
    # rest is data; the fast path must bail, not end the tag at `">`
    b'<p class=x"y>q">para</p>',
    b"<div title=a'b>c'>text</div>",
    b"<img alt=it's>q'>",
    b"<p title='x>the data of it</p>",  # a bare value may not open a quote
    # a bare value keeps a trailing `/`: no self-close, and a script start
    # tag so written opens its CDATA element
    b"<div>a <script src=a.js/><p>x</p></script> b</div>",
    b"<a href=x/ >slash kept</a><a href=y />self-close</a>",
    b"<p a=b=c>eq in value</p><p a==b>eq run</p><p a= >empty</p>",
    b"<p a=`b`>backtick</p><p a=\"x\"b=y>glued</p><p/ a>slash sep</p>",
    b"<style media=x\"y>p{}</style><p>the data of it</p>",
    # anchor text split by a comment, a PI or a CDATA section: html.parser
    # reports the text around it as two pieces, and SPEC counts each
    # piece's linked characters on its own (6 here, not 7)
    b"<p><a href=/x>foo <!-- c --> bar</a> the of it</p>",
    b"<p><a href=/x>foo <?pi?> bar</a> the of it</p>",
    b"<p><a href=/x>foo <![CDATA[q]]> bar</a> the of it</p>",
]


def _sig(html: bytes, lang: str | None):
    return parse_payload(html, lang)


def _sig_slow(html: bytes, lang: str | None):
    return parse_payload(html, lang, force_slow=True)


def test_tricky_constructs_agree():
    for html in TRICKY:
        assert _sig(html, "en") == _sig_slow(html, "en"), html


def test_fixture_corpus_agrees():
    from ocr_spark.gen import fixture_pages

    for page in fixture_pages():
        assert _sig(page["html"], page["lang"]) == _sig_slow(
            page["html"], page["lang"]
        ), page["url"]


def test_adversarial_corpus_agrees():
    from tests.test_properties import _adversarial_corpus

    for name, html, lang in _adversarial_corpus():
        assert _sig(html, lang) == _sig_slow(html, lang), name


_CHUNK = st.sampled_from(
    ["<p>", "</p>", "<div>", "</div>", "<a href='/x'>", "</a>", "<br/>",
     "<br />", "<script>", "</script>", "<style>", "</style>", "<!-- z -->",
     "&amp;", "&", "<", ">", "</", "<>", "< q>", "'", '"', "=", "/>",
     "the of it is", "xyzzy 123", " ", "<img src=x/>", "<p a='>'>",
     "</p x>", "<FOO>", "</foo>", "\x00", "é", "中文",
     "<p:x>", "</p:x>", "<o:p>", "<div.cls>", "<P=>",
     # CDATA closer variants: valid (space/tab/after-slash forms) and the
     # attr-bearing one that 3.11 treats as NOT closing (swallow mode)
     "</script >", "</ script>", "</style\t>", "</script x>", "</script/>",
     "<w:sdt>", "</w:sdt>",
     # SPEC §6 metadata surface (title capture, meta/link attr parsing)
     "<title>", "</title>", "<title/>", "<meta name=description content=d>",
     '<meta name="description" content="d d">', "<meta content=c>",
     '<meta property="og:title" content="o">', "<link rel=canonical href=/c>",
     '<link rel="alternate canonical" href=" /c ">', "<link rel=canonical>",
     "<meta name=description>", "<svg>", "</svg>",
     # quote, slash and `=` attribute shapes, on script/style tags too
     '<p class=x"y>', "<div title=a'b>", "<img alt=it's>", "q'>", 'q">',
     "<a href=/x/>", "<a href=x/ >", "<a href=x />", "<p a=b=c>",
     "<p a==b>", "<p a= >", "<p a=`b`>", '<p a="x"b=y>', "<p/ a>",
     '<meta name=description content=x"y>', "<script src=a.js/>",
     "<script src='a.js'>", "<script type=text/js>", '<style media=x"y>',
     "<style a=b/>", "<SCRIPT SRC=/s.js>"]
)


_TAG_NAME = st.sampled_from(
    ["a", "A", "p", "div", "img", "br", "meta", "link", "script", "style",
     "Script", "title"]
)
_ATTR_NAME = st.sampled_from(
    ["href", "HREF", "class", "rel", "name", "content", "property", "x-y",
     "d:n", "_u", "1n", "'q", "a\"b"]
)
# bare values from characters html.parser's bare value does and does not
# share with the fast grammar's; quoted values with either quote inside
_BARE = st.text(alphabet="ab/'\"=` ", max_size=4)
_VALUE = st.one_of(
    st.sampled_from(["x", "/x/", "a.js", "description", "canonical"]),
    st.sampled_from(['x"y', "a'b", "it's", "x/", "b=c", "`b`", "a<b"]),
    _BARE,
    _BARE.map(lambda v: f'"{v}"'),
    _BARE.map(lambda v: f"'{v}'"),
)
_ATTR_ITEM = st.builds(
    lambda name, eqs, value, lead: lead + name + (eqs + value if eqs else ""),
    _ATTR_NAME,
    st.sampled_from(["", "=", "==", " = ", "= ", " ="]),
    _VALUE,
    st.sampled_from([" ", " ", "  ", "\t", "\n", "/", "", " /"]),
)
# a start tag from random names, `=` runs and quoted or bare values, and
# the text after it, which may close a quote the tag left open
TAG = st.builds(
    lambda name, attrs, tail, text: "<" + name + "".join(attrs) + tail + text,
    _TAG_NAME,
    st.lists(_ATTR_ITEM, max_size=3),
    st.sampled_from([">", ">", "/>", " />", " / >", " >", "", "\t>"]),
    st.sampled_from(["", "the data of it", 'q">', "c'>", '" >', "' >"]),
)
TAG_SOUP = st.lists(
    st.one_of(TAG, st.sampled_from(
        ["</p>", "</a>", "</script>", "</style>", "</div>", ">", "/"]
    )),
    max_size=8,
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_CHUNK, max_size=30))
def test_hypothesis_soup_agrees(chunks):
    html = "".join(chunks).encode("utf-8")
    assert _sig(html, "en") == _sig_slow(html, "en"), html


@settings(max_examples=400, deadline=None)
@given(TAG_SOUP)
def test_hypothesis_tags_agree(parts):
    html = "".join(parts).encode("utf-8")
    assert _sig(html, "en") == _sig_slow(html, "en"), html


def test_fast_path_actually_taken():
    """Guard against the fast path silently bailing on the mainline shape."""
    from ocr_spark.html_blocks import _fast_tokens

    assert _fast_tokens(
        '<html><body><nav><a href="/a">x</a></nav><p>the data of it</p>'
        "</body></html>"
    ) is not None
    assert _fast_tokens(
        "<style>p{}</style><script>1 &lt; 2</script>".replace("&lt;", "x")
    ) is not None
    # a bare value ending in `/` is one html.parser keeps whole
    assert _fast_tokens("<a href=x/>a link</a>") is not None
    assert _fast_tokens(
        "<div>a <script src=a.js/><p>x</p></script> b</div>"
    ) is not None
