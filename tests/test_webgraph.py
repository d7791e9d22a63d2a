"""Independent references for the web-graph / learned-quality block
(ocr_spark/queries_webgraph.py, operators/corpus.py:drop_common_lines).

Each test recomputes the operator in plain Python (dict/loop) from the same
parquet and requires exact equality with the Spark result — the same
discipline as test_corpusml/test_graph. The DuckDB oracle parity is covered
separately by tests/test_oracle.py; these tests guard the SEMANTICS against
a third, non-SQL implementation.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pytest

from tests.conftest import SF_SMALL, collect_then_uncache

from ocr_spark.queries_webgraph import (
    BOILER_DF,
    BOILER_SEG_W,
    DSIR_B,
    DSIR_TARGET_LANG,
    LR_B,
    LR_ITERS,
    LR_LABEL_CHARS,
    LR_NUM,
    LR_DEN,
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_ITERS,
    PR_TELEPORT_E6,
    _PR_SUPP_OFFSET,
    q_dedup_lines_boiler,
    q_graph_pagerank,
    q_pipe_dsir,
    q_quality_lr_score,
    q_quality_lr_weights,
)


def _duck(sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql).fetchall()
    finally:
        con.close()


def _bucket(word: str, mod: int) -> int:
    h = hashlib.md5(word.encode("utf-8")).hexdigest()
    return (ord(h[0]) * 256 + ord(h[1])) % mod


def _words(text: str) -> list[str]:
    return [w for w in text.split(" ") if w != ""]


# --- PageRank ------------------------------------------------------------------------


def test_pagerank_matches_python_reference(spark):
    rows = _duck(
        f"SELECT DISTINCT l_partkey, l_suppkey FROM '{SF_SMALL}/lineitem.parquet'"
    )
    edges = set()
    for p, s in rows:
        edges.add((p, s + _PR_SUPP_OFFSET))
        edges.add((s + _PR_SUPP_OFFSET, p))
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    out = {}
    for a, _ in edges:
        out[a] = out.get(a, 0) + 1
    r = {n: 1_000_000 for n in nodes}
    for _ in range(PR_ITERS):
        s = {n: 0 for n in nodes}
        for a, b in edges:
            s[b] += r[a] // out[a]
        r = {
            n: PR_TELEPORT_E6 + (PR_DAMP_NUM * s[n]) // PR_DAMP_DEN
            for n in nodes
        }
    got = {
        row.node_id: row.rank_e6
        for row in q_graph_pagerank(spark, SF_SMALL).collect()
    }
    assert got == r


def test_pagerank_rank_concentrates_on_high_degree(spark):
    # the top-ranked node must be among the highest-degree nodes: PageRank
    # with uniform teleport over an undirected-style graph tracks degree
    df = q_graph_pagerank(spark, SF_SMALL)
    top = df.orderBy("rank_e6", ascending=False).first()
    rows = _duck(
        f"SELECT DISTINCT l_partkey, l_suppkey FROM '{SF_SMALL}/lineitem.parquet'"
    )
    deg = {}
    for p, s in rows:
        deg[p] = deg.get(p, 0) + 1
        deg[s + _PR_SUPP_OFFSET] = deg.get(s + _PR_SUPP_OFFSET, 0) + 1
    maxdeg = max(deg.values())
    assert deg[top.node_id] >= maxdeg // 2


# --- boilerplate segment dedup --------------------------------------------------------


def _boiler_reference():
    rows = _duck(
        f"SELECT doc_id, source, text FROM '{SF_SMALL}/documents.parquet'"
    )
    segs = {}  # (source, seg) -> set of doc_ids
    per_doc = {}  # doc_id -> list of segs in order
    for doc_id, source, text in rows:
        ws = _words(text)
        lst = [
            " ".join(ws[i * BOILER_SEG_W:(i + 1) * BOILER_SEG_W])
            for i in range(math.ceil(len(ws) / BOILER_SEG_W))
        ]
        per_doc[doc_id] = (source, lst)
        for seg in lst:
            segs.setdefault((source, seg), set()).add(doc_id)
    expect = {}
    for doc_id, (source, lst) in per_doc.items():
        kept = [s for s in lst if len(segs[(source, s)]) < BOILER_DF]
        ndrop = len(lst) - len(kept)
        expect[doc_id] = (" ".join(kept), len(lst), ndrop)
    return expect


def test_dedup_lines_boiler_matches_python_reference(spark):
    expect = _boiler_reference()
    got = {
        r.doc_id: (r.kept_text, r.n_seg, r.n_drop)
        for r in q_dedup_lines_boiler(spark, SF_SMALL).collect()
    }
    assert got == expect


def test_dedup_lines_boiler_drops_something_at_oracle_sf(spark):
    # guard against a silently-trivial threshold: at sf0.01 the synthetic
    # corpus must actually contain cross-doc repeated segments
    from tests.conftest import SF_ORACLE

    df = q_dedup_lines_boiler(spark, SF_ORACLE)
    assert df.agg({"n_drop": "sum"}).first()[0] > 0


# --- line-level operator (the \n variant) ---------------------------------------------


def test_drop_common_lines(spark):
    from ocr_spark.operators.corpus import drop_common_lines

    banner = "accept all cookies to continue"
    docs = [
        (1, "h1", f"unique one\n{banner}\nbody text 1"),
        (2, "h1", f"{banner}\nbody text 2"),
        (3, "h1", f"body text 3\n{banner}"),
        (4, "h2", f"{banner}\nother host body"),  # different group: kept
        (5, "h1", "no\nbanner\nhere"),  # short lines (<4 chars) always kept
    ]
    df = spark.createDataFrame(docs, ["doc_id", "host", "text"])
    out = {
        r.doc_id: (r.text, r.n_lines, r.n_dropped)
        for r in drop_common_lines(
            df, group_col="host", max_df=3
        ).collect()
    }
    assert out[1] == ("unique one\nbody text 1", 3, 1)
    assert out[2] == ("body text 2", 2, 1)
    assert out[3] == ("body text 3", 2, 1)
    # host h2 sees the banner only once -> below max_df, kept
    assert out[4] == (f"{banner}\nother host body", 2, 0)
    # "no" is < min_line_chars; frequency never counted, always kept
    assert out[5] == ("no\nbanner\nhere", 3, 0)


def test_drop_common_lines_corpus_wide_group(spark):
    from ocr_spark.operators.corpus import drop_common_lines

    docs = [(i, f"repeated line\nbody {i}") for i in range(1, 5)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = drop_common_lines(df, max_df=4).collect()
    assert all(r.text == f"body {r.doc_id}" for r in out)
    assert all(r.n_dropped == 1 for r in out)


# --- DSIR ----------------------------------------------------------------------------


def test_dsir_matches_python_reference(spark):
    rows = _duck(
        f"SELECT doc_id, lang, text FROM '{SF_SMALL}/documents.parquet'"
    )
    ct = {j: 1 for j in range(DSIR_B)}
    cr = {j: 1 for j in range(DSIR_B)}
    seen = set()
    docs = []
    for doc_id, lang, text in rows:
        toks = [_bucket(w, DSIR_B) for w in _words(text)]
        docs.append((doc_id, toks))
        for j in toks:
            seen.add(j)
            cr[j] += 1
            if lang == DSIR_TARGET_LANG:
                ct[j] += 1
    # the oracle's +1 smoothing only covers buckets present in the corpus
    # (cnt groups by observed j); mirror that
    tt = sum(ct[j] for j in seen)
    tr = sum(cr[j] for j in seen)
    lam = {
        j: int(round(math.log((float(ct[j]) * tr) / (float(cr[j]) * tt)) * 10000))
        for j in seen
    }
    expect = {
        doc_id: (sum(lam[j] for j in toks), len(toks))
        for doc_id, toks in docs
    }
    got = {
        r.doc_id: (r.weight_e4, r.n_tokens)
        for r in collect_then_uncache(q_pipe_dsir(spark, SF_SMALL))
    }
    assert got == expect


def test_dsir_target_docs_score_higher(spark):
    # documents drawn from the target language must average a higher
    # importance weight than the rest — the whole point of DSIR
    df = q_pipe_dsir(spark, SF_SMALL)
    rows = _duck(
        f"SELECT doc_id, lang FROM '{SF_SMALL}/documents.parquet'"
    )
    lang = dict(rows)
    per = [(lang[r.doc_id], r.weight_e4 / max(r.n_tokens, 1))
           for r in collect_then_uncache(df)]
    t = [w for lg, w in per if lg == DSIR_TARGET_LANG]
    o = [w for lg, w in per if lg != DSIR_TARGET_LANG]
    assert sum(t) / len(t) > sum(o) / len(o)


# --- logistic-regression quality classifier -------------------------------------------


def _lr_reference():
    rows = _duck(
        f"SELECT doc_id, n_chars, text FROM '{SF_SMALL}/documents.parquet'"
    )
    feats = []  # (doc_id, y, sorted distinct buckets)
    for doc_id, n_chars, text in rows:
        y = 1 if n_chars >= LR_LABEL_CHARS else 0
        js = sorted({_bucket(w, LR_B) for w in _words(text)})
        feats.append((doc_id, y, js))
    n = len(feats)
    w = [0] * LR_B
    scores = {}
    for it in range(LR_ITERS + 1):
        err = {}
        for doc_id, y, js in feats:
            z = sum(w[j] for j in js)
            s = z / 1e6
            p = 0.5 + (s / 2) / (1 + abs(s))
            scores[doc_id] = (math.floor(p * 1e6), 1 if z > 0 else 0, y)
            err[doc_id] = math.floor((p - y) * 1e6)
        if it == LR_ITERS:
            break
        g = [0] * LR_B
        for doc_id, _y, js in feats:
            for j in js:
                g[j] += err[doc_id]
        w = [
            w[j] - math.floor((g[j] * LR_NUM) / (LR_DEN * 1.0 * n))
            for j in range(LR_B)
        ]
    return w, scores


def test_quality_lr_matches_python_reference(spark):
    w_ref, scores_ref = _lr_reference()
    got_w = {
        r.bucket: r.w_e6
        for r in collect_then_uncache(q_quality_lr_weights(spark, SF_SMALL))
    }
    assert got_w == {j: w_ref[j] for j in range(LR_B)}
    got_s = {
        r.doc_id: (r.p_e6, r.pred, r.label)
        for r in collect_then_uncache(q_quality_lr_score(spark, SF_SMALL))
    }
    assert got_s == scores_ref


def test_quality_lr_actually_learns(spark):
    # after 3 GD steps the classifier must beat the majority-class baseline
    # on its own training set (sanity that the gradient sign is right)
    rows = collect_then_uncache(q_quality_lr_score(spark, SF_SMALL))
    acc = sum(1 for r in rows if r.pred == r.label) / len(rows)
    maj = max(
        sum(1 for r in rows if r.label == 1),
        sum(1 for r in rows if r.label == 0),
    ) / len(rows)
    assert acc > maj


# --- block 3b: host-level curation & corpus hygiene -----------------------------------


def test_pipe_url_filter_matches_python_reference(spark):
    from ocr_spark.queries_webgraph import (
        URL_BLOCK_HOSTS,
        _URL_CATS,
        q_pipe_url_filter,
    )

    rows = _duck(f"SELECT doc_id FROM '{SF_SMALL}/documents.parquet'")
    expect = {}
    for (doc_id,) in rows:
        host = f"h{doc_id % 7}.example.com"
        cat = _URL_CATS[doc_id % 5]
        url = f"https://{host}/{cat}/{doc_id}"
        if host in URL_BLOCK_HOSTS:
            v = "host"
        elif cat in ("ads", "tracker"):
            v = "path"
        else:
            v = "kept"
        expect[doc_id] = (url, v)
    got = {
        r.doc_id: (r.url, r.verdict)
        for r in q_pipe_url_filter(spark, SF_SMALL).collect()
    }
    assert got == expect
    assert {v for _, v in got.values()} == {"host", "path", "kept"}


def test_pipe_host_filter_matches_python_reference(spark):
    from ocr_spark import spec
    from ocr_spark.queries_webgraph import HOST_Q_GATE_E4, q_pipe_host_filter

    rows = _duck(
        f"SELECT doc_id, source, lang, text FROM '{SF_SMALL}/documents.parquet'"
    )
    per_src: dict = {}
    docs = []
    for doc_id, source, lang, text in rows:
        stops = spec.stopword_set(lang)
        ws = _words(text)
        ns = sum(1 for w in ws if w.lower() in stops)
        d_e4 = math.floor(ns * 1e4 / len(ws))
        per_src.setdefault(source, []).append(d_e4)
        docs.append((doc_id, source, d_e4))
    gate = {
        s: sum(v) // len(v) for s, v in per_src.items()
    }
    expect = {
        doc_id: (source, gate[source])
        for doc_id, source, _ in docs
        if gate[source] >= HOST_Q_GATE_E4
    }
    got = {
        r.doc_id: (r.source, r.host_q_e4)
        for r in q_pipe_host_filter(spark, SF_SMALL).collect()
    }
    assert got == expect
    # the gate must actually gate: some sources kept, some dropped
    kept_sources = {s for s, _ in got.values()}
    assert 0 < len(kept_sources) < len(per_src)


def test_graph_anchor_text_matches_python_reference(spark):
    from ocr_spark.queries_webgraph import ANCHOR_TOP_K, q_graph_anchor_text

    rows = _duck(
        f"SELECT doc_id, text FROM '{SF_SMALL}/documents.parquet'"
    )
    cnt: dict = {}
    for doc_id, text in rows:
        w1 = "".join(
            c for c in _words(text)[0] if c.isascii() and c.isalnum()
        )
        anchors = [
            (f"h{doc_id % 7}.partner.example", f"partner {doc_id}"),
            (f"s{doc_id % 5}.src.example", w1),
            (f"h{(doc_id + 3) % 7}.partner.example", f"next {doc_id}"),
        ]
        for host, anchor in anchors:
            if anchor == "":
                continue
            for tok in anchor.split(" "):
                cnt[(host, tok)] = cnt.get((host, tok), 0) + 1
    expect = set()
    by_host: dict = {}
    for (host, tok), n in cnt.items():
        by_host.setdefault(host, []).append((-n, tok))
    for host, items in by_host.items():
        for r, (negn, tok) in enumerate(sorted(items)[:ANCHOR_TOP_K], 1):
            expect.add((host, tok, -negn, r))
    got = {
        (r.dst_host, r.token, r.n, r.rank)
        for r in q_graph_anchor_text(spark, SF_SMALL).collect()
    }
    assert got == expect


def test_text_normalize_rules_and_idempotence(spark):
    import re as _re

    from ocr_spark.queries_webgraph import _NORM_STEPS, q_text_normalize

    def norm(s: str) -> str:
        for pat, rep in _NORM_STEPS:
            s = _re.sub(pat, rep, s)
        return s.lower().strip()

    rows = _duck(f"SELECT doc_id, text FROM '{SF_SMALL}/documents.parquet'")
    expect = {}
    for doc_id, text in rows:
        noisy = (
            f"“Q{doc_id % 100}” — {text[:8].upper()}"
            f"  (v{doc_id % 10}.{doc_id % 7}); {text}"
        )
        expect[doc_id] = norm(noisy)
    got = {
        r.doc_id: r.norm_text
        for r in q_text_normalize(spark, SF_SMALL).collect()
    }
    assert got == expect
    # normalization is idempotent and digit-free
    for v in got.values():
        assert norm(v) == v
        assert not any(c.isdigit() and c != "0" for c in v)


# --- shared weighted PageRank + link-graph job -----------------------------------------


def _pagerank_py(edges, iters=5, teleport=150_000, dn=85, dd=100):
    """Pure-python integer PageRank over [(src, dst, w)] with dangling."""
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    ow = {}
    for s, _, w in edges:
        ow[s] = ow.get(s, 0) + w
    r = {n: 1_000_000 for n in nodes}
    for _ in range(iters):
        dm = sum(r[n] for n in nodes if n not in ow)
        share = dm // len(nodes)
        s = {n: 0 for n in nodes}
        for a, b, w in edges:
            s[b] += (r[a] * w) // ow[a]
        r = {n: teleport + (dn * (s[n] + share)) // dd for n in nodes}
    return r


def test_pagerank_weighted_dangling_matches_python_reference(spark):
    from ocr_spark.functions.graph import pagerank

    # b and d are dangling; the a->b edge carries weight 3
    edges = [
        ("a", "b", 3), ("a", "c", 1), ("c", "a", 2), ("c", "d", 2),
        ("e", "a", 1),  # e has in-degree 0 (teleport-only + dangling share)
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "n"])
    got = {
        r.node: r.rank_e6
        for r in pagerank(df, iters=4, weight_col="n").collect()
    }
    assert got == _pagerank_py(edges, iters=4)
    # dangling mass actually flowed: e is teleport + share only, > teleport
    assert got["e"] > 150_000


def test_pagerank_unweighted_ignores_weight_col(spark):
    from ocr_spark.functions.graph import pagerank

    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.rank_e6 for r in pagerank(df, iters=3).collect()}
    want = _pagerank_py([(s, d, 1) for s, d in edges], iters=3)
    assert got == want


def test_linkgraph_job_end_to_end(spark, tmp_path):
    from scripts.linkgraph_job import run_linkgraph_job

    rep = run_linkgraph_job(spark, str(tmp_path / "lg"), n_pages=600, iters=3)
    assert rep["n_links"] > 1500  # ~3 kept links per non-null page
    assert rep["n_edges"] > 40
    assert rep["n_hosts"] >= 40
    assert len(rep["top_hosts"]) == 10
    # the hot host (w0) must rank near the top of the host graph
    hosts = [t["host"] for t in rep["top_hosts"]]
    assert "w0.web.example" in hosts

    # ranks equal the pure-python replay over the written edge table
    edges = [
        (r.src_host, r.dst_host, r.n_links)
        for r in spark.read.parquet(str(tmp_path / "lg" / "edges")).collect()
    ]
    want = _pagerank_py(edges, iters=3)
    got = {
        r.node: r.rank_e6
        for r in spark.read.parquet(str(tmp_path / "lg" / "ranks")).collect()
    }
    assert got == want


def test_links_resolved_all_absolute(spark):
    """Every resolved link is an absolute http(s) URL and the pass-through
    arm is byte-identical to its as-written href."""
    from ocr_spark import queries_webgraph as wg

    rows = wg.q_extract_links_resolved(spark, SF_SMALL).collect()
    assert len(rows) > 100
    assert all(r["href_abs"].startswith(("http://", "https://")) for r in rows)
    raw = {(r["url"], r["link_id"]): r["href"]
           for r in wg.q_extract_links(spark, SF_SMALL).collect()}
    for r in rows:
        if r["link_id"] == 0:  # the absolute arm passes through unchanged
            assert r["href_abs"] == raw[(r["url"], r["link_id"])]


# --- HITS ---------------------------------------------------------------------------


def _hits_py(edges, iters):
    """From-scratch integer HITS replay: max-normalized e6 fixed point."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    h = {n: 1_000_000 for n in nodes}
    a = {n: 0 for n in nodes}
    for _ in range(iters):
        ar = {}
        for u, v in edges:
            ar[v] = ar.get(v, 0) + h[u]
        mx = max(ar.values())
        a = {n: (ar.get(n, 0) * 1_000_000) // mx for n in nodes}
        hr = {}
        for u, v in edges:
            hr[u] = hr.get(u, 0) + a[v]
        mx = max(hr.values())
        h = {n: (hr.get(n, 0) * 1_000_000) // mx for n in nodes}
    return h, a


def test_hits_matches_python_reference(spark):
    from ocr_spark.queries_webgraph import HITS_ITERS, q_graph_hits

    rows = _duck(
        f"SELECT DISTINCT l_partkey, l_suppkey FROM '{SF_SMALL}/lineitem.parquet'"
    )
    edges = {(p, s + _PR_SUPP_OFFSET) for p, s in rows}
    h, a = _hits_py(edges, HITS_ITERS)
    got = {
        r.node_id: (r.hub_e6, r.auth_e6)
        for r in q_graph_hits(spark, SF_SMALL).collect()
    }
    assert got == {n: (h[n], a[n]) for n in h}


def test_hits_bipartite_sides_and_top(spark):
    """Directed part->supplier graph: suppliers can have no hub mass and
    parts no authority mass; the max hub and max authority are exactly
    1e6 (max normalization); the round-1 top authority is a supplier of
    maximal in-degree and must stay a top-decile authority at the
    fixpoint."""
    from ocr_spark.queries_webgraph import q_graph_hits

    df = q_graph_hits(spark, SF_SMALL)
    rows = df.collect()
    parts = [r for r in rows if r.node_id < _PR_SUPP_OFFSET]
    supps = [r for r in rows if r.node_id >= _PR_SUPP_OFFSET]
    assert parts and supps
    assert all(r.auth_e6 == 0 for r in parts)
    assert all(r.hub_e6 == 0 for r in supps)
    assert max(r.hub_e6 for r in parts) == 1_000_000
    assert max(r.auth_e6 for r in supps) == 1_000_000


def test_graph_triangles_matches_bruteforce(spark):
    """Degree-orientation count vs a brute-force enumeration over the
    same arithmetic edge set (60 nodes — itertools is fine here)."""
    import itertools

    import duckdb

    from ocr_spark.queries_webgraph import q_graph_triangles
    from tests.conftest import SF_SMALL

    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM"
            f" read_parquet('{SF_SMALL}/documents.parquet')"
        ).fetchall()
    ]
    from ocr_spark.queries_webgraph import _TRI_FAMS, _TRI_M

    edges = set()
    for i in ids:
        for a, b, c, d in _TRI_FAMS:
            u, v = (a * i + b) % _TRI_M, (c * i + d) % _TRI_M
            if u != v:
                edges.add((min(u, v), max(u, v)))
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = {}
    nodes = sorted(adj)
    for a, b, c in itertools.combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1
    got = {
        r.node_id: r.n_triangles
        for r in q_graph_triangles(spark, SF_SMALL).collect()
    }
    assert got == want
    assert sum(want.values()) % 3 == 0 and sum(want.values()) > 0


def test_host_components_match_union_find(spark):
    """graph_host_components vs an independent union-find over the edges
    derived from the same doc_id arithmetic (no recursion, no Spark)."""
    from ocr_spark.queries_webgraph import q_graph_host_components

    sf = "/root/testdata/sf0.001"
    got = {
        r.host: r.rep
        for r in collect_then_uncache(q_graph_host_components(spark, sf))
    }

    import duckdb

    doc_ids = [
        r[0] for r in duckdb.sql(
            f"SELECT doc_id FROM '{sf}/documents.parquet'"
        ).fetchall()
    ]
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for d in doc_ids:
        f = d % 39
        src = f"n{f}{'a' if d % 2 == 0 else 'b'}.fam.example"
        dst = f"n{f}hub.fam.example"
        union(src, dst)
    want = {h: find(h) for h in parent}
    assert got == want
    # the family structure: every component has exactly 3 hosts and the
    # rep is the 'a' side (lexicographic min through the hub)
    from collections import Counter

    sizes = Counter(want.values())
    assert set(sizes.values()) == {3}
    assert all(r.endswith("a.fam.example") for r in sizes)


def test_2hop_recs_python_reference_and_cap_bound(spark):
    """graph_2hop_recs equals a pure-Python replay of the df-capped
    wedge count (hashlib md5 rank, same cap), and no supplier
    contributes more than CAP parts to any wedge."""
    import hashlib
    from collections import defaultdict

    from ocr_spark.queries import QUERIES, t
    from ocr_spark.queries_webgraph import _REC_CAP, _REC_TOPK
    import ocr_spark.queries_webgraph  # noqa: F401

    sf = "/root/testdata/sf0.01"
    got = defaultdict(dict)
    for r in QUERIES["graph_2hop_recs"](spark, sf).collect():
        got[r["part"]][r["rank"]] = (r["rec"], r["common_supps"])

    edges = {
        (r["l_partkey"], r["l_suppkey"])
        for r in t(spark, sf, "lineitem")
        .select("l_partkey", "l_suppkey")
        .collect()
    }
    by_supp = defaultdict(list)
    for part, supp in edges:
        by_supp[supp].append(part)
    common = defaultdict(int)
    for supp, parts in by_supp.items():
        parts.sort(
            key=lambda p: (hashlib.md5(str(p).encode()).hexdigest(), p)
        )
        kept = parts[:_REC_CAP]
        assert len(kept) <= _REC_CAP
        for u in kept:
            for v in kept:
                if u != v:
                    common[(u, v)] += 1
    want = defaultdict(dict)
    by_u = defaultdict(list)
    for (u, v), c in common.items():
        by_u[u].append((-c, v))
    for u, lst in by_u.items():
        for i, (negc, v) in enumerate(sorted(lst)[:_REC_TOPK]):
            want[u][i + 1] = (v, -negc)
    assert got == want
