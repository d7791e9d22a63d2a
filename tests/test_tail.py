"""The batch extraction tail against the frozen reference, without Spark.

``html_blocks.label_mask`` + ``assemble_batch`` (classification, jusText
smoothing, span offsets, assembly, text hash over a whole batch) must
agree, document by document, with ``goldenref._classify``/``_smooth``/
``_assemble`` on any block feature sequence: random mixes around every
threshold, runs with no edges at all, all-``short``/``near`` documents,
PDF payloads (all content), empty documents, MAX_BLOCKS-long link farms,
and batches of several such documents, where smoothing must not cross a
document boundary.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark import goldenref, spec
from ocr_spark.html_blocks import assemble_batch, label_mask

# values on and around each classification threshold
_LINKS = (
    0.0, 0.1, spec.MAX_LINK_DENSITY, spec.MAX_LINK_DENSITY + 1e-9, 0.5, 1.0,
)
_STOPS = (
    0.0, 0.1, spec.STOP_NEAR - 1e-9, spec.STOP_NEAR, 0.2,
    spec.STOP_GOOD - 1e-9, spec.STOP_GOOD, 0.6, 1.0,
)
_LINK = st.sampled_from(_LINKS)
_STOP = st.sampled_from(_STOPS)
_TEXT = st.text(alphabet="abcé 文", min_size=1, max_size=2 * spec.LEN_SHORT)
_FEATS = st.lists(st.tuples(_TEXT, _LINK, _STOP), max_size=40)


def _block(i: int, text: str, link: float, stop: float) -> dict:
    return {
        "block_id": i,
        "text": text,
        "text_len": len(text),
        "link_density": link,
        "stopword_density": stop,
    }


def _blocks(feats) -> list[dict]:
    return [_block(i, *f) for i, f in enumerate(feats)]


def _run(docs: list[tuple[str, list[dict]]]):
    """One batch of (kind, blocks) documents through the kernel: the
    content mask and the assembled arrays."""
    flat = [b for _, blocks in docs for b in blocks]
    offsets = np.cumsum([0] + [len(blocks) for _, blocks in docs])
    texts = pa.array([b["text"] for b in flat], type=pa.string())
    text_len = np.array([b["text_len"] for b in flat], dtype=np.int32)
    keep = label_mask(
        offsets,
        np.array([kind == "pdf" for kind, _ in docs], dtype=bool),
        text_len,
        np.array([b["link_density"] for b in flat], dtype=np.float64),
        np.array([b["stopword_density"] for b in flat], dtype=np.float64),
    )
    return offsets, keep, assemble_batch(texts, text_len, keep, offsets)


def _check(docs: list[tuple[str, list[dict]]]) -> None:
    offsets, keep, (text, spans, sha, n_blocks, n_content) = _run(docs)
    for d, (kind, blocks) in enumerate(docs):
        if kind == "pdf":
            want = ["content"] * len(blocks)
        else:
            want = goldenref._smooth([goldenref._classify(b) for b in blocks])
        got = keep[offsets[d]:offsets[d + 1]]
        assert ["content" if k else "boilerplate" for k in got] == want
        content, want_text, want_spans = goldenref._assemble(blocks, want)
        assert text[d].as_py() == want_text
        assert [
            (s["block_id"], s["start"], s["end"], s["label"])
            for s in spans[d].as_py()
        ] == [
            (s["block_id"], s["start"], s["end"], s["label"])
            for s in want_spans
        ]
        assert sha[d].as_py() == hashlib.sha256(
            want_text.encode("utf-8")
        ).hexdigest()
        assert n_blocks[d].as_py() == len(blocks)
        assert n_content[d].as_py() == len(content)


def _check_classes(blocks: list[dict]) -> None:
    """``goldenref._classify`` through what smoothing can tell apart: a
    block alone is content iff 'good', and a block before a 'good' one is
    content iff it is not 'bad' ('short' and 'near' smooth alike)."""
    good = _block(0, "g" * spec.LEN_SHORT, 0.0, spec.STOP_GOOD)
    docs = [("html", [b]) for b in blocks] + [
        ("html", [b, good]) for b in blocks
    ]
    offsets, keep, _ = _run(docs)
    n = len(blocks)
    for i, b in enumerate(blocks):
        lab = goldenref._classify(b)
        assert keep[offsets[i]] == (lab == "good"), (b, lab)
        assert keep[offsets[n + i]] == (lab != "bad"), (b, lab)


def test_tail_classes_on_every_threshold():
    """Every combination of the threshold values, at and just under
    LEN_SHORT."""
    texts = ["x" * (spec.LEN_SHORT - 1), "x" * spec.LEN_SHORT]
    blocks = _blocks(
        (text, link, stop)
        for text in texts
        for link in _LINKS
        for stop in _STOPS
    )
    _check_classes(blocks)
    _check([("html", blocks)])


@settings(max_examples=60, deadline=None)
@given(kind=st.sampled_from(["html", "pdf"]), feats=_FEATS)
def test_tail_matches_goldenref(kind, feats):
    blocks = _blocks(feats)
    _check_classes(blocks)
    _check([(kind, blocks)])


@settings(max_examples=40, deadline=None)
@given(
    docs=st.lists(
        st.tuples(st.sampled_from(["html", "pdf", "empty"]), _FEATS),
        max_size=8,
    )
)
def test_tail_batch_matches_goldenref(docs):
    """Several documents in one batch: each is finished as if alone."""
    _check([
        (kind, [] if kind == "empty" else _blocks(feats))
        for kind, feats in docs
    ])


def test_tail_edges_stop_at_document_boundaries():
    """A 'good' edge ending one document keeps neither the next
    document's leading neutral blocks nor, backward, the previous
    document's trailing ones; empty and PDF documents in between change
    nothing."""
    good = ("the of it is and to in that for on as with", 0.0, 0.5)
    short = ("x", 0.0, 0.0)
    bad = ("a link row of the farm here", 1.0, 0.0)
    pdf = ("pdf text", 0.0, 0.0)
    docs = [
        ("html", _blocks([short, good])),
        ("html", _blocks([short, short, bad])),
        ("empty", []),
        ("html", _blocks([bad, short])),
        ("pdf", _blocks([pdf, pdf])),
        ("html", _blocks([good, short])),
        ("html", _blocks([short, short])),
    ]
    _check(docs)
    offsets, keep, _ = _run(docs)
    per_doc = [keep[offsets[d]:offsets[d + 1]].tolist() for d in range(7)]
    assert per_doc == [
        [True, True], [False, False, False], [], [False, False],
        [True, True], [True, True], [False, False],
    ]


def test_tail_empty_and_all_short():
    _check([("empty", [])])
    _check([("html", [])])
    _check([("pdf", [])])
    _check([])
    _check([("empty", []), ("html", []), ("pdf", [])])
    short = _blocks([("x" * (spec.LEN_SHORT - 1), 0.0, 1.0)] * 50)
    _check([("html", short)])
    _check([("pdf", short)])
    _check_classes(short)


@settings(max_examples=30, deadline=None)
@given(
    # below MAX_LINK_DENSITY and short or near only: no 'good'/'bad' edge
    feats=st.lists(
        st.tuples(
            _TEXT,
            st.sampled_from([0.0, 0.2]),
            st.sampled_from([spec.STOP_NEAR, 0.2]),
        ),
        min_size=1,
        max_size=60,
    ),
)
def test_tail_without_edges(feats):
    blocks = _blocks(feats)
    assert not {goldenref._classify(b) for b in blocks} & {"good", "bad"}
    _check([("html", blocks)])
    _, keep, _ = _run([("html", blocks)])
    assert not keep.any()


def test_tail_maxblocks_link_farm():
    """A MAX_BLOCKS link farm: 'bad' link rows around short separators,
    with a few good paragraphs in between."""
    link = ("link text of a farm row", 1.0, 0.0)
    sep = ("|", 0.0, 0.0)
    good = ("the of it is and to in that for on as with", 0.0, 0.5)
    feats = []
    for i in range(spec.MAX_BLOCKS // 2):
        feats += [good if i % 97 == 0 else link, sep]
    blocks = _blocks(feats)
    assert len(blocks) == spec.MAX_BLOCKS
    farm = _blocks([sep] + [link] * (spec.MAX_BLOCKS - 2) + [sep])
    _check([("html", blocks)])
    _check([("html", farm)])
    _check([("html", blocks), ("html", farm), ("html", blocks)])
