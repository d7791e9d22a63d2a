"""The batch block-feature kernel against Python, without Spark.

``html_blocks.block_features`` computes SPEC.md §2's per-block features
with Arrow string kernels over a whole batch. Python's own string
operations are the reference: ``pc.utf8_length`` must equal ``len()`` and
``split_pattern(" ")`` must count the tokens ``str.split(" ")`` does on
every block text the fixture pages yield (legacy charsets, the latin-1
fallback, UTF-16/32 BOMs, U+FFFD replacements, CJK); every feature
``parse_batch_columnar`` returns must equal ``goldenref``'s; and the
vectorized language recovery must pick what the scalar rule picks.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark import gen, goldenref, spec
from ocr_spark.html_blocks import (
    block_features,
    parse_batch_columnar,
    parse_payload,
)

_SEEDS = (42, 0, 7)


def _pages(seed: int = 42) -> list[dict]:
    return gen.fixture_pages(seed)


def _texts(pages) -> list[str]:
    return [
        b[2] for p in pages for b in parse_payload(p["html"], p["lang"])[1]
    ]


def _name(page: dict) -> str:
    return page["url"].rsplit("/", 1)[1]


def _assert_string_kernels(texts: list[str]) -> None:
    arr = pa.array(texts, type=pa.string())
    assert pc.utf8_length(arr).to_pylist() == [len(t) for t in texts]
    assert pc.list_value_length(pc.split_pattern(arr, " ")).to_pylist() == [
        len(t.split(" ")) for t in texts
    ]
    assert pc.split_pattern(arr, " ").to_pylist() == [
        t.split(" ") for t in texts
    ]


@pytest.mark.parametrize("seed", _SEEDS)
def test_string_kernels_match_python_on_fixture_blocks(seed):
    pages = _pages(seed)
    texts = _texts(pages)
    # the families whose decoding makes Arrow and Python likeliest to part
    names = {_name(p) for p in pages}
    for family in (
        "charset-undeclared-fallback", "charset-latin1-as-1252",
        "charset-bom-utf16le", "charset-bom-utf32le", "charset-gbk-meta",
        "charset-shiftjis", "non-utf8-bytes",
    ):
        assert family in names
        page = next(p for p in pages if _name(p) == family)
        assert _texts([page]), family
    assert any("�" in t for t in texts)
    assert any("一" <= c <= "鿿" for t in texts for c in t)
    assert any(ord(c) > 0x7F for t in texts for c in t)
    _assert_string_kernels(texts)


@settings(max_examples=60, deadline=None)
@given(st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), min_size=1
    ),
    max_size=20,
))
def test_string_kernels_match_python_on_any_block_text(raw):
    """Block texts are whitespace-normalized (``" ".join(s.split())``),
    whatever the code points: astral, combining, Unicode spaces."""
    texts = [t for t in (" ".join(s.split()) for s in raw) if t]
    _assert_string_kernels(texts)


_STOPS = sorted(set().union(*spec.STOPWORDS.values()))
_TOKEN = st.builds(
    lambda pre, w, case, post: pre + getattr(w, case)() + post,
    st.text(alphabet=spec.PUNCT, max_size=2),
    st.sampled_from(_STOPS + ["xyzzy", "Straße", "İ", "文"]),
    st.sampled_from(["lower", "upper", "title"]),
    st.text(alphabet=spec.PUNCT + "-", max_size=2),
)


@settings(max_examples=60, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from([None, "en", "de", "es", "fr", "zh", "xx"]),
            st.lists(
                st.tuples(
                    st.lists(_TOKEN, min_size=1, max_size=12),
                    st.floats(0, 2),
                ),
                max_size=4,
            ),
        ),
        max_size=5,
    )
)
def test_block_features_match_goldenref_features(docs):
    """Punctuated, upper- and title-case stopwords of every list, in
    documents of several langs in one batch, and linked-character counts
    past the text length: every feature equals ``goldenref._features``."""
    texts, link_chars, offsets = [], [], [0]
    for _, blocks in docs:
        for words, link in blocks:
            text = " ".join(" ".join(words).split())
            texts.append(text)
            link_chars.append(int(link * len(text)))
        offsets.append(len(texts))
    langs, feats = block_features(
        pa.array(texts, type=pa.string()),
        np.array(link_chars, dtype=np.int64),
        np.array(offsets), [lg for lg, _ in docs],
    )
    assert langs == [lg for lg, _ in docs]
    for d, (lang, _) in enumerate(docs):
        for i in range(offsets[d], offsets[d + 1]):
            ref = goldenref._features(
                i, "p", 0, texts[i], link_chars[i], None,
                spec.stopword_set(lang),
            )
            assert {f: v[i] for f, v in feats.items()} == {
                f: ref[f] for f in feats
            }, texts[i]


def _golden_blocks(page: dict) -> list[dict]:
    return goldenref.extract_document(
        page["url"], page["html"], page["lang"]
    )["blocks"]


_COLS = (
    "block_id", "tag", "depth", "text", "text_len", "n_words",
    "n_link_chars", "link_density", "char_density", "stopword_density",
)


@pytest.mark.parametrize("seed", _SEEDS)
def test_parse_batch_columnar_matches_goldenref(seed):
    """Every block field of one batch over all fixture pages equals the
    frozen reference's, bbox included."""
    pages = _pages(seed)
    (_, offsets, cols, bbox_null, *_) = parse_batch_columnar(
        [p["html"] for p in pages], [p["lang"] for p in pages]
    )
    got = {
        f: (cols[f].to_pylist() if isinstance(cols[f], pa.Array)
            else list(cols[f]))
        for f in (*_COLS, "x0", "y0", "x1", "y1")
    }
    for d, page in enumerate(pages):
        want = _golden_blocks(page)
        lo, hi = offsets[d], offsets[d + 1]
        assert hi - lo == len(want), page["url"]
        for i, b in zip(range(lo, hi), want):
            assert tuple(got[f][i] for f in _COLS) == tuple(
                b[f] for f in _COLS
            ), page["url"]
            if b["bbox"] is None:
                assert bbox_null[i], page["url"]
            else:
                assert not bbox_null[i]
                assert b["bbox"] == {
                    f: got[f][i] for f in ("x0", "y0", "x1", "y1")
                }, page["url"]


def test_parse_batch_columnar_counts_pinned():
    """The benchmark's ``html_blocks`` layer reads the block, link and
    cell totals of a batch at positions 1, 4 and 8 of the returned tuple
    and times ``parse_payload(..., force_slow=True)`` as the slow parse."""
    pages = _pages()
    out = parse_batch_columnar(
        [p["html"] for p in pages], [p["lang"] for p in pages]
    )
    parsed = [parse_payload(p["html"], p["lang"]) for p in pages]
    assert out[1][-1] == sum(len(r[1]) for r in parsed) > 0
    assert out[4][-1] == sum(len(r[2]) for r in parsed) > 0
    assert out[8][-1] == sum(len(r[4]) for r in parsed) > 0
    for p, fast in zip(pages, parsed):
        slow = parse_payload(p["html"], p["lang"], force_slow=True)
        assert slow == fast, p["url"]


def _scalar_lang(blocks: list[tuple]) -> str:
    """The scalar rule: the list with the most tokens whose lowercase form
    it holds; ties, no hits included, go to the first list."""
    hits = {
        lg: sum(
            w.lower() in ws for b in blocks for w in b[2].split(" ")
        )
        for lg, ws in spec.STOPWORDS.items()
    }
    return max(hits, key=hits.__getitem__)


def _langid_pages() -> list[bytes | None]:
    rng = random.Random(5)
    htmls = [p["html"] for p in _pages()]
    for lg in ("en", "de", "es", "fr", "zh"):
        for _ in range(6):
            htmls.append(gen._template_page(rng, lg).encode("utf-8"))
    first, second = list(spec.STOPWORDS)[:2]
    a = sorted(spec.STOPWORDS[first] - spec.STOPWORDS[second])[0]
    b = sorted(spec.STOPWORDS[second] - spec.STOPWORDS[first])[0]
    htmls += [
        f"<p>{a} {b} xyzzy</p>".encode(),       # a tie: the first list
        f"<p>{b.upper()} plugh</p>".encode(),   # one hit, upper case
        b"<p>xyzzy plugh</p>",                  # no hits: the first list
    ]
    return htmls


def test_langid_matches_scalar_rule():
    """Untagged fixture pages, five-language template pages and tie pages
    in one batch, with tagged pages mixed in: every untagged page gets the
    scalar rule's language and the stopword densities of that language's
    list; tagged pages keep their tag and features."""
    htmls = _langid_pages()
    # every third page tagged; the three tie pages at the end untagged
    langs = [
        None if i % 3 or i >= len(htmls) - 3 else "de"
        for i in range(len(htmls))
    ]
    parsed = [parse_payload(h, None) for h in htmls]
    blocks = [b for r in parsed for b in r[1]]
    offsets = np.cumsum([0] + [len(r[1]) for r in parsed])
    got, feats = block_features(
        pa.array([b[2] for b in blocks], type=pa.string()),
        np.array([b[3] for b in blocks], dtype=np.int64),
        offsets, langs, langid=True,
    )
    want = [
        lg if lg is not None else _scalar_lang(r[1])
        for lg, r in zip(langs, parsed)
    ]
    assert got == want
    assert len(set(want)) == len(spec.STOPWORDS)
    first, second = list(spec.STOPWORDS)[:2]
    assert want[-3:] == [first, second, first]
    density = feats["stopword_density"].tolist()
    for d, lg in enumerate(got):
        stops = spec.stopword_set(lg)
        for i, b in zip(range(offsets[d], offsets[d + 1]), parsed[d][1]):
            ref = goldenref._features(i, b[0], b[1], b[2], b[3], None, stops)
            assert density[i] == ref["stopword_density"]


def test_langid_leaves_tagged_batches_alone():
    htmls = _langid_pages()
    parsed = [parse_payload(h, None) for h in htmls]
    blocks = [b for r in parsed for b in r[1]]
    args = (
        pa.array([b[2] for b in blocks], type=pa.string()),
        np.array([b[3] for b in blocks], dtype=np.int64),
        np.cumsum([0] + [len(r[1]) for r in parsed]),
    )
    langs = ["fr"] * len(htmls)
    got, feats = block_features(*args, langs, langid=True)
    assert got == langs
    _, plain = block_features(*args, langs)
    for f, v in plain.items():
        assert np.array_equal(feats[f], v), f


def test_block_features_of_an_empty_batch():
    for langs in ([], [None, "en"]):
        got, feats = block_features(
            pa.array([], type=pa.string()), np.zeros(0, dtype=np.int64),
            np.zeros(len(langs) + 1, dtype=np.int64), langs, langid=True,
        )
        assert got == [lg or list(spec.STOPWORDS)[0] for lg in langs]
        assert all(len(v) == 0 for v in feats.values())


def test_sliced_batches_extract_the_same(monkeypatch):
    """``_arrow_task`` hands the batch function ``SLICE_BYTES`` of html
    at a time; a batch cut into many slices extracts exactly as one call
    over the whole batch does, langid included."""
    import functools

    from ocr_spark.operators import extract as ex

    pages = _pages()
    batch = pa.RecordBatch.from_pylist([
        {"url": p["url"], "warc_ts": p["warc_ts"], "lang": p["lang"],
         "part_id": 0, "html": p["html"]}
        for p in pages
    ])
    whole = pa.Table.from_batches([ex._extract_one_batch(batch, True)])
    monkeypatch.setattr(ex, "SLICE_BYTES", 4096)
    pieces = list(ex._slices(batch))
    assert len(pieces) > 10
    assert sum(p.num_rows for p in pieces) == batch.num_rows
    for p in pieces:
        sizes = ex._bytes_in(p).to_pylist()
        assert sum(sizes) < ex.SLICE_BYTES + max(sizes)
    task = ex._arrow_task(
        functools.partial(ex._extract_one_batch, langid=True)
    )
    sliced = pa.Table.from_batches(list(task(iter([batch]))))
    assert sliced.equals(whole)
    assert list(task(iter([batch.slice(0, 0)]))) == []
