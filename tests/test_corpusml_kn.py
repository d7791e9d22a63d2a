"""Independent pure-Python reference for the interpolated Kneser-Ney bigram
LM (text_ppl_kn) — dict-counting + math.log, no Spark/DuckDB expressions
shared with either engine implementation."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from tests.conftest import collect_then_uncache

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the cat ate the fish"),
    (2, "a dog sat on a log"),
    (3, "fish"),  # 1 word -> no bigrams -> absent from output
    (4, "THE CAT SAT"),  # casefolds onto doc 0's bigrams
    (5, "  spaced   out   words  "),  # empty tokens dropped
    (6, ""),  # empty -> absent
]

D = 0.75


def _ref():
    toks = {i: [w for w in s.lower().split(" ") if w] for i, s in DOCS}
    pos = [
        (i, ws[j], ws[j + 1])
        for i, ws in toks.items()
        for j in range(len(ws) - 1)
    ]
    c12 = Counter((w1, w2) for _, w1, w2 in pos)
    c1 = defaultdict(float)
    t1 = defaultdict(int)
    followers = defaultdict(set)
    for (w1, w2), c in c12.items():
        c1[w1] += c
        t1[w1] += 1
        followers[w2].add(w1)
    nt = float(len(c12))

    def nll_e4(w1, w2):
        p = ((c12[(w1, w2)] - D) / c1[w1]) + (
            ((D * t1[w1]) / c1[w1]) * (len(followers[w2]) / nt)
        )
        x = -math.log(p) * 10000
        return int(math.floor(x + 0.5))  # HALF_UP, matching F.round

    out = defaultdict(lambda: [0, 0])
    for i, w1, w2 in pos:
        out[i][0] += 1
        out[i][1] += nll_e4(w1, w2)
    return {i: (n, s) for i, (n, s) in out.items()}


@pytest.fixture(scope="module")
def kn_rows(spark, tmp_path_factory):
    from ocr_spark.queries import all_queries

    sf = str(tmp_path_factory.mktemp("kn"))
    spark.createDataFrame(
        [(i, s, "en", "test", len(s)) for i, s in DOCS],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    kn = all_queries()["text_ppl_kn"](spark, sf)
    return {
        r.doc_id: (r.n_bigrams, r.sum_nll_e4)
        for r in collect_then_uncache(kn)
    }


def test_kn_matches_pure_python_reference(kn_rows):
    assert kn_rows == _ref()


def test_kn_short_docs_absent(kn_rows):
    assert 3 not in kn_rows and 6 not in kn_rows


def test_kn_probabilities_sum_to_one_per_context():
    """Sanity on the reference itself: interpolated-KN bigram probabilities
    over the observed vocabulary sum to 1 for every left context (the
    discount mass is exactly redistributed by the continuation term) —
    the property that makes it a proper LM, not just a score."""
    toks = {i: [w for w in s.lower().split(" ") if w] for i, s in DOCS}
    pos = [
        (ws[j], ws[j + 1])
        for ws in toks.values()
        for j in range(len(ws) - 1)
    ]
    c12 = Counter(pos)
    c1 = defaultdict(float)
    t1 = defaultdict(int)
    followers = defaultdict(set)
    for (w1, w2), c in c12.items():
        c1[w1] += c
        t1[w1] += 1
        followers[w2].add(w1)
    nt = float(len(c12))
    vocab_r = set(w2 for _, w2 in c12)
    for w1 in c1:
        total = sum(
            (max(c12.get((w1, w2), 0) - D, 0.0) / c1[w1])
            + ((D * t1[w1] / c1[w1]) * (len(followers[w2]) / nt))
            for w2 in vocab_r
        )
        assert abs(total - 1.0) < 1e-9, (w1, total)


def test_ppl_buckets_match_pure_python(spark, kn_rows, tmp_path_factory):
    """CCNet terciles: bucket assignment equals an independent pure-Python
    percentile_disc over the reference scores (ties share a bucket)."""
    from ocr_spark.queries import all_queries

    ref = _ref()
    scores = {i: s // n for i, (n, s) in ref.items()}
    ordered = sorted(scores.values())
    n = len(ordered)

    def disc(k):  # smallest score with cumulative count >= k
        return ordered[k - 1]

    t1, t2 = disc((n + 2) // 3), disc((2 * n + 2) // 3)
    want = {
        i: (
            s,
            "head" if s <= t1 else ("middle" if s <= t2 else "tail"),
        )
        for i, s in scores.items()
    }

    sf = str(tmp_path_factory.mktemp("knb"))
    spark.createDataFrame(
        [(i, s, "en", "test", len(s)) for i, s in DOCS],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    buckets = all_queries()["pipe_ppl_buckets"](spark, sf)
    got = {
        r.doc_id: (r.avg_nll_e4, r.ppl_bucket)
        for r in collect_then_uncache(buckets)
    }
    assert got == want
    assert set(b for _, b in got.values()) == {"head", "middle", "tail"}
