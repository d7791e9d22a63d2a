"""The Python extraction tail against the frozen reference, without Spark.

``html_blocks.smooth_labels`` + ``assemble_doc`` (classification, jusText
smoothing, span offsets, assembly, text hash) must agree with
``goldenref._classify``/``_smooth``/``_assemble`` on any block feature
sequence: random mixes around every threshold, runs with no edges at all,
all-``short``/``near`` documents, PDF payloads (all content), empty
documents and MAX_BLOCKS-long link farms.
"""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark import goldenref, spec
from ocr_spark.html_blocks import assemble_doc, classify, smooth_labels

# values on and around each classification threshold
_LINK = st.sampled_from(
    [0.0, 0.1, spec.MAX_LINK_DENSITY, spec.MAX_LINK_DENSITY + 1e-9, 0.5, 1.0]
)
_STOP = st.sampled_from(
    [0.0, 0.1, spec.STOP_NEAR - 1e-9, spec.STOP_NEAR, 0.2,
     spec.STOP_GOOD - 1e-9, spec.STOP_GOOD, 0.6, 1.0]
)
_TEXT = st.text(alphabet="abcé 文", min_size=1, max_size=2 * spec.LEN_SHORT)


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


def _check(kind: str, blocks: list[dict]) -> None:
    assert [classify(b) for b in blocks] == [
        goldenref._classify(b) for b in blocks
    ]
    if kind == "pdf":
        want = ["content"] * len(blocks)
    else:
        want = goldenref._smooth([goldenref._classify(b) for b in blocks])
    labels = smooth_labels(kind, blocks)
    assert labels == want
    content, want_text, want_spans = goldenref._assemble(blocks, want)
    text, sha, spans = assemble_doc(blocks, labels)
    assert [s[0] for s in spans] == [b["block_id"] for b in content]
    assert text == want_text
    assert spans == [(s["block_id"], s["start"], s["end"]) for s in want_spans]
    assert sha == hashlib.sha256(want_text.encode("utf-8")).hexdigest()


@settings(max_examples=60, deadline=None)
@given(
    kind=st.sampled_from(["html", "pdf"]),
    feats=st.lists(st.tuples(_TEXT, _LINK, _STOP), max_size=40),
)
def test_tail_matches_goldenref(kind, feats):
    _check(kind, _blocks(feats))


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
    _check("html", blocks)
    assert smooth_labels("html", blocks) == ["boilerplate"] * len(blocks)


def test_tail_empty_and_all_short():
    _check("empty", [])
    _check("html", [])
    _check("pdf", [])
    short = _blocks([("x" * (spec.LEN_SHORT - 1), 0.0, 1.0)] * 50)
    _check("html", short)
    _check("pdf", short)


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
    _check("html", blocks)
    _check("html", _blocks([sep] + [link] * (spec.MAX_BLOCKS - 2) + [sep]))
