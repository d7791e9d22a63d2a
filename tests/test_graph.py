"""Connected-components over bucket graphs: fixpoint semantics the single
star-pass (minhash_group_reps) cannot provide, partitioning invariance, and
the refinement relation between the two on the real documents table."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, collect_then_uncache
from ocr_spark.functions.graph import bucket_connected_components
from ocr_spark.queries import t
from ocr_spark.queries_textml import (
    minhash_band_keys,
    minhash_group_reps,
    minhash_signatures,
)


def _chain_buckets(spark):
    # path graph 1-2-3-4-5-6 through five buckets: consecutive docs share a
    # bucket, distant docs never do — the worst case for one star pass
    rows = [
        (1, 0, "x"), (2, 0, "x"),
        (2, 0, "y"), (3, 0, "y"),
        (3, 0, "z"), (4, 0, "z"),
        (4, 1, "x"), (5, 1, "x"),
        (5, 1, "y"), (6, 1, "y"),
        (7, 1, "z"),  # isolated doc in its own bucket
    ]
    return spark.createDataFrame(rows, "doc_id long, bi int, band string")


def test_chain_fully_merges(spark):
    got = {
        r["doc_id"]: r["rep"]
        for r in collect_then_uncache(
            bucket_connected_components(_chain_buckets(spark)))
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 7}


def test_star_pass_undermerges_the_chain(spark):
    # documents the caveat dedup_cc closes: the one-pass rep-of-bucket-min
    # on the same chain leaves multiple labels in one component
    b = _chain_buckets(spark)
    bmin = b.groupBy("bi", "band").agg(F.min("doc_id").alias("bmin"))
    star = (
        b.join(bmin, ["bi", "band"]).groupBy("doc_id")
        .agg(F.min("bmin").alias("rep"))
    )
    labels = {r["rep"] for r in star.filter("doc_id != 7").collect()}
    assert len(labels) > 1


def test_partitioning_invariance(spark):
    b = _chain_buckets(spark)
    one = sorted(
        (r["doc_id"], r["rep"])
        for r in collect_then_uncache(
            bucket_connected_components(b.coalesce(1)))
    )
    many = sorted(
        (r["doc_id"], r["rep"])
        for r in collect_then_uncache(
            bucket_connected_components(b.repartition(8)))
    )
    assert one == many


def test_nonconvergence_raises(spark):
    with pytest.raises(RuntimeError):
        bucket_connected_components(_chain_buckets(spark), max_iter=1)


def test_cc_equals_union_find_on_random_graphs(spark):
    """Distributed label propagation == a sequential union-find oracle on
    seeded random bucket graphs (isolated docs, chains, cliques, and
    multi-bucket overlaps all arise at these sizes)."""
    import random

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        rows = []
        for doc in range(60):
            for _ in range(rng.randint(0, 3)):
                rows.append((doc, 0, f"b{rng.randint(0, 19)}"))
        if not rows:
            continue
        rows = sorted(set(rows))

        parent = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        by_bucket: dict[str, list[int]] = {}
        for doc, _, bk in rows:
            parent.setdefault(doc, doc)
            by_bucket.setdefault(bk, []).append(doc)
        for members in by_bucket.values():
            for m in members[1:]:
                union(members[0], m)
        expect = {d: find(d) for d in parent}

        df = spark.createDataFrame(rows, "doc_id long, bi int, band string")
        got = {
            r["doc_id"]: r["rep"]
            for r in collect_then_uncache(
                bucket_connected_components(df))
        }
        assert got == expect, f"seed {seed}"


def test_cc_refines_star_pass_on_documents(spark):
    docs = t(spark, SF_ORACLE, "documents")
    star = {
        r["doc_id"]: r["rep"] for r in minhash_group_reps(docs).collect()
    }
    cc = {
        r["doc_id"]: r["rep"]
        for r in collect_then_uncache(bucket_connected_components(
            minhash_band_keys(minhash_signatures(docs))))
    }
    assert set(cc) == set(star)
    # CC only ever merges further: same star rep => same cc rep, and the cc
    # rep is never larger than the star rep (both are component-min flavored)
    for d in star:
        assert cc[d] <= star[d]
    by_star: dict[int, set[int]] = {}
    for d, r in star.items():
        by_star.setdefault(r, set()).add(cc[d])
    assert all(len(v) == 1 for v in by_star.values())


def test_bfs_distances_hand_graph(spark):
    """bfs_distances on a hand graph: nearest-seed distance, early stop
    when the frontier drains, unreachable nodes absent, no cached frames
    left behind."""
    from ocr_spark.functions.graph import bfs_distances

    # 1 -> 2 -> 3 -> 4, 10 -> 3 (two seeds: 1 and 10); 99 isolated
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 3), (99, 99)], "src LONG, dst LONG"
    )
    seeds = spark.createDataFrame([(1,), (10,)], "node LONG")
    # delta, not absolute count: the session is shared across the suite
    # and other modules legitimately hold persisted frames
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    res = bfs_distances(edges, seeds, max_hops=10)
    out = {r["node"]: r["dist"] for r in res.collect()}
    # 3 is reachable in 2 from seed 1 but in 1 from seed 10 -> nearest wins
    assert out == {1: 0, 10: 0, 2: 1, 3: 1, 4: 2}
    # only the returned (documented-persisted) frame remains cached
    assert jsc.getPersistentRDDs().size() - before <= 1
    res.unpersist()


def test_label_propagation_reference_and_community_structure(spark):
    """LPA over the planted-community graph: equals a pure-Python
    synchronous-LPA replay round for round; is strictly finer than
    connected components (the bridge edges fuse everything into ONE
    component, LPA keeps many communities); and is partitioning-
    invariant."""
    from collections import defaultdict

    from ocr_spark.functions.graph import label_propagation
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_webgraph  # noqa: F401

    rows = QUERIES["graph_label_prop"](spark, SF_ORACLE).collect()
    got = {r["node_id"]: r["community"] for r in rows}

    # rebuild the same edges in pure Python from the parquet doc_ids
    ids = [
        r["doc_id"]
        for r in t(spark, SF_ORACLE, "documents").select("doc_id").collect()
    ]
    edges = set()
    for i in ids:
        x = (i % 6) * 11 + (i * 7 + 1) % 11
        y = (i % 6) * 11 + (i * 5 + 3) % 11
        if x != y:
            edges.add((min(x, y), max(x, y)))
        if i % 29 == 0:
            x = (i % 6) * 11 + i % 11
            y = ((i + 1) % 6) * 11 + (i * 3) % 11
            if x != y:
                edges.add((min(x, y), max(x, y)))
    adj = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    lbl = {n: n for n in adj}
    for _ in range(3):
        new = {}
        for n in adj:
            cnt = defaultdict(int)
            for m in adj[n]:
                cnt[lbl[m]] += 1
            new[n] = min(cnt, key=lambda c: (-cnt[c], c))
        lbl = new
    assert got == lbl

    # finer than CC: one component, many communities
    parent = {n: n for n in adj}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        parent[find(s)] = find(d)
    n_cc = len({find(n) for n in adj})
    n_comm = len(set(got.values()))
    assert n_cc == 1
    assert n_comm > 5 * n_cc

    # partitioning invariance
    e_df = spark.createDataFrame(
        sorted(edges), "src LONG, dst LONG"
    ).repartition(13)
    again = {
        r["node"]: r["community"]
        for r in label_propagation(e_df, iters=3).collect()
    }
    assert again == lbl


def test_personalized_pagerank_locality_and_reference(spark):
    """PPR on a two-cluster hand graph: equals a pure-Python replay of
    the integer state machine; mass concentrates in the seed cluster
    (every seed-cluster node outranks every far-cluster node); empty
    seed set raises."""
    import pytest as _pytest

    from ocr_spark.functions.graph import personalized_pagerank

    # two 4-cycles joined by one bridge; seeds in cluster A
    ca = [(0, 1), (1, 2), (2, 3), (3, 0)]
    cb = [(10, 11), (11, 12), (12, 13), (13, 10)]
    edges = ca + cb + [(3, 10)]
    e_df = spark.createDataFrame(edges, "src LONG, dst LONG")
    seeds = spark.createDataFrame([(0,), (1,)], "node LONG")
    got = {
        r["node"]: r["rank_e6"]
        for r in personalized_pagerank(e_df, seeds, iters=4).collect()
    }

    # python replay
    from collections import defaultdict

    out = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    nodes = sorted({x for e in edges for x in e})
    sd = {0, 1}
    r = {n: (1_000_000 if n in sd else 0) for n in nodes}
    for _ in range(4):
        dm = sum(r[n] for n in nodes if n not in out)
        s = defaultdict(int)
        for u, vs in out.items():
            for v in vs:
                s[v] += r[u] // len(vs)
        r = {
            n: (150_000 if n in sd else 0)
            + (85 * (s[n] + (dm // len(sd) if n in sd else 0))) // 100
            for n in nodes
        }
    assert got == r

    # locality: the seeds hold the top ranks and the seed cluster holds
    # the bulk of the mass (the walk restarts there every step); nodes
    # 4+ hops downstream of the bridge have received nothing by iter 4
    top2 = sorted(got, key=lambda n: -got[n])[:2]
    assert set(top2) == {0, 1}
    assert sum(got[n] for n in (0, 1, 2, 3)) > 2 * sum(
        got[n] for n in (10, 11, 12, 13)
    )
    assert got[12] == 0 and got[13] == 0

    with _pytest.raises(ValueError):
        personalized_pagerank(
            e_df, spark.createDataFrame([(99,)], "node LONG"), iters=1
        )
