"""The text scan (``_text_blocks`` over ``_fast_tokens``) vs the full parse.

The text product reads two fields of each block, its text and its linked
characters. Whenever the tokenizer answers, ``_text_blocks`` must give
exactly those two fields of ``parse_payload``'s blocks (html.parser's),
over every corpus the fast/slow tests use plus soup aimed at the scan's
own state (anchors across block tags, skip elements holding blocks,
upper-case tags, whitespace inside anchors). Spark-free: a tokenizer edit
is checked here in seconds.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark import goldenref, spec
from ocr_spark.html_blocks import (
    _fast_tokens,
    _payload,
    _text_blocks,
    extract_batch,
    extract_text_batch,
    parse_payload,
)
from tests.test_fast_tokenizer import _CHUNK, TAG, TAG_SOUP, TRICKY


def _scan(html: bytes | None) -> list[tuple[str, int]] | None:
    """The text scan's blocks of an HTML payload; None where the tokenizer
    bails (or the payload is no HTML)."""
    kind, doc = _payload(html)
    if kind != "html":
        return None
    tokens = _fast_tokens(doc)
    return None if tokens is None else _text_blocks(tokens)


def _full(html: bytes | None) -> list[tuple[str, int]]:
    """The two fields from html.parser's parse (the fast tokenizer feeding
    the handlers is held to it by tests/test_fast_tokenizer.py)."""
    return [
        (b[2], b[3]) for b in parse_payload(html, None, force_slow=True)[1]
    ]


def _agrees(html: bytes | None) -> bool:
    """True iff the scan answered; asserts its answer is the full parse's."""
    got = _scan(html)
    if got is not None:
        assert got == _full(html), html
    return got is not None


def test_tricky_constructs_agree():
    assert sum(_agrees(html) for html in TRICKY) > 0


def test_fixture_corpus_agrees():
    from ocr_spark.gen import fixture_pages

    assert sum(_agrees(p["html"]) for p in fixture_pages()) > 0


def test_adversarial_corpus_agrees():
    from tests.test_properties import _adversarial_corpus

    assert sum(_agrees(html) for _, html, _ in _adversarial_corpus()) > 0


_TEXT_CHUNK = st.one_of(_CHUNK, st.sampled_from([
    # anchors spanning block tags, nested and unbalanced
    "<a href='/x'><p>", "</p></a>", "<a>", "<a href=/y>", "</a></div>",
    "<li><a href='/z'>", "</li>",
    # skip elements holding blocks and anchors
    "<noscript>", "</noscript>", "<noscript><p>", "</p></noscript>",
    "<svg><p>", "</svg>", "<template>", "</template>", "<iframe>",
    "</iframe>", "<svg/>", "<script/>",
    # upper-case names and attributes
    "<A HREF='/u'>", "</A>", "<A HREF=\"/u\">", "<P>", "</P>", "<DIV>",
    "<NOSCRIPT>", "</NOSCRIPT>", "<BR>",
    # whitespace-only and spaced data (inside anchors too)
    "  ", "\n", "\t \n", " a  b ", " ", "　",
]))


@settings(max_examples=400, deadline=None)
@given(st.lists(_TEXT_CHUNK, max_size=30))
def test_hypothesis_soup_agrees(chunks):
    _agrees("".join(chunks).encode("utf-8"))


@settings(max_examples=400, deadline=None)
@given(TAG_SOUP)
def test_hypothesis_tags_agree(parts):
    _agrees("".join(parts).encode("utf-8"))


def test_mainline_shapes_take_the_scan():
    """Guard against the tokenizer silently bailing on the shapes the
    extraction mostly sees: ``gen.bench_pages``' template, a
    ``<style>``-headed template page and a link farm past MAX_BLOCKS."""
    import random

    from perfbench.pages import MAXBLOCKS_UNIT, _template_page

    para = "the data engine is on a table and the scan of it " * 3
    bench = (
        "<html><head><title>t</title></head><body>"
        '<nav><a href="/a">one link</a> <a href="/b">two link</a> '
        '<a href="/c">three link</a></nav>'
        f"<p>{para}tail 7</p><p>{para}tail 7</p>"
        '<footer><a href="/tos">terms</a></footer></body></html>'
    )
    template = _template_page(random.Random(5), "de")
    farm = MAXBLOCKS_UNIT * 1100
    for page in (bench, template, farm):
        assert _agrees(page.encode()), page[:80]
    assert len(_scan(farm.encode())) == spec.MAX_BLOCKS
    assert len(_scan(bench.encode())) == 5  # title, nav, two p, footer


def _pages() -> list[dict]:
    from ocr_spark.gen import fixture_pages
    from tests.test_properties import _adversarial_corpus

    return list(fixture_pages()) + [
        {"html": html, "lang": lang} for _, html, lang in _adversarial_corpus()
    ]


def test_text_batch_equals_full_batch():
    """``extract_text_batch`` gives ``extract_batch``'s langs and text
    arrays over whole batches of every corpus, language recovery on and
    off."""
    pages = _pages()
    htmls = [p["html"] for p in pages]
    langs = [p["lang"] for p in pages]
    for langid in (False, True):
        for lo in range(0, len(pages), 97):
            want = extract_batch(
                htmls[lo:lo + 97], langs[lo:lo + 97], langid
            )[:2]
            got = extract_text_batch(
                htmls[lo:lo + 97], langs[lo:lo + 97], langid
            )
            assert got[0] == want[0]
            for g, w in zip(got[1], want[1]):
                assert g.equals(w), (langid, lo)
    got = extract_text_batch([], [])
    assert got[0] == [] and all(len(a) == 0 for a in got[1])


_PARA = "the data of the engine is on a table and the scan of it is here " * 3


def _golden_agrees(pages: list[str]) -> list[str]:
    """Both batch extractions give ``goldenref.extract_document``'s text
    for every page; returns that text."""
    htmls = [p.encode("utf-8") for p in pages]
    langs = ["en"] * len(htmls)
    want = [
        goldenref.extract_document("u", h, "en")["extracted_text"]
        for h in htmls
    ]
    assert extract_text_batch(htmls, langs)[1][0].to_pylist() == want
    assert extract_batch(htmls, langs)[1][0].to_pylist() == want
    return want


def test_attribute_grammar_pages_match_goldenref():
    """Tags whose attributes html.parser reads past a quote, `=` or `/`,
    each followed by kept text, so a tag that ends in the wrong place
    shows in the extracted text."""
    texts = _golden_agrees([
        f'<p class=x"y>q">{_PARA}</p>',
        f"<div title=a'b>c'>{_PARA}</div>",
        f"<p><img alt=it's>q'>{_PARA}</p>",
        f"<p a=b=c>{_PARA}</p><p a=`b`>{_PARA}</p>",
        f"<p><a href=x/>a link</a> {_PARA}</p>",
        f"<div>{_PARA}<script src=a.js/><p>x</p></script> {_PARA}</div>",
    ])
    assert all(texts)
    assert texts[0].startswith('q">') and texts[1].startswith("c'>")


@settings(max_examples=150, deadline=None)
@given(st.lists(
    st.one_of(TAG, st.sampled_from([_PARA, "</p>", "</a>", "</script>"])),
    max_size=10,
))
def test_hypothesis_tags_match_goldenref(parts):
    _golden_agrees(["".join(parts)])
