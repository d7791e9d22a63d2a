"""Distributed connected components over a doc–bucket bipartite graph.

Why bipartite, not edge-list: the natural input of LSH dedup is the band
table (doc_id, bi, band) — docs sharing a bucket are candidate duplicates.
Materializing the doc–doc *pair* edges of that graph is quadratic in the
size of a duplicate cluster (a 1M-copy page yields 5·10^11 pairs), so any
CC formulation that starts from pair edges inherits that blow-up. Min-label
propagation on the bipartite graph never materializes pairs: every round is
two linear shuffles (groupBy bucket, groupBy doc) over tables whose sizes
are |membership| = docs × bands, independent of cluster shape.

Convergence: labels start as each doc's own id and can only decrease (a doc
is a member of each of its buckets, so the bucket min is ≤ its own label).
Each round the component minimum spreads one doc→bucket→doc hop, so the
fixpoint — every doc labelled with its connected component's minimum id —
is reached in at most the bucket-hop diameter of the component. Real
near-dup clusters are bucket-cliques or short chains (diameter 1–3); the
`max_iter` bound is a safety net that raises rather than silently
returning an under-merged labelling.

This closes the documented caveat of the single star-pass in
``queries_textml.minhash_group_reps`` (chains A~B~C where A and C never
share a bucket stay split there). On a real cluster the per-round labels
frame would be checkpointed to reliable storage every ~10 rounds to bound
lineage; here rounds are few and labels are persisted + materialized each
round, so recomputation-on-cache-loss only ever replays from the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def bucket_connected_components(
    buckets: DataFrame,
    id_col: str = "doc_id",
    bucket_cols: tuple[str, ...] = ("bi", "band"),
    max_iter: int = 50,
) -> DataFrame:
    """(id, rep) where rep = min id of the node's connected component in the
    graph whose edges connect ids sharing any bucket.

    ``buckets``: one row per (id, bucket) membership; ids absent from it
    (e.g. shingle-less docs that were never banded) are absent from the
    output — mirror of the MinHash pipeline's semantics.

    The returned frame is persisted (MEMORY_AND_DISK) — it was materialized
    to detect the fixpoint, and dropping the cache would force downstream
    actions to replay every propagation round. Callers that are done with
    the labels should ``.unpersist()`` them (repeat invocations in one
    session would otherwise accumulate cached frames). On the
    non-convergence raise path all intermediates are unpersisted.
    """
    bc = list(bucket_cols)
    memb = buckets.select(id_col, *bc).persist(StorageLevel.MEMORY_AND_DISK)
    labels = (
        memb.select(id_col)
        .distinct()
        .withColumn("rep", F.col(id_col))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels.count()
    for _ in range(max_iter):
        bmin = (
            memb.join(labels, id_col)
            .groupBy(*bc)
            .agg(F.min("rep").alias("_bmin"))
        )
        new = (
            memb.join(bmin, bc)
            .groupBy(id_col)
            .agg(F.min("_bmin").alias("rep"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # one action both materializes `new` and detects the fixpoint
        changed = (
            new.withColumnRenamed("rep", "_new")
            .join(labels, id_col)
            .filter(F.col("_new") != F.col("rep"))
            .count()
        )
        labels.unpersist()
        labels = new
        if changed == 0:
            memb.unpersist()
            return labels
    memb.unpersist()
    labels.unpersist()
    raise RuntimeError(
        f"connected components did not converge in {max_iter} rounds "
        "(bucket-hop diameter exceeds max_iter)"
    )


# --- integer-exact PageRank ----------------------------------------------------------
# The URL/host-importance prior of a crawl pipeline, with the same
# cross-engine determinism contract as the rest of the engine: ranks live in
# e6 fixed point, every per-round quantity is a BIGINT, and division is
# integer division over non-negative operands — so a DuckDB (or plain
# Python) replay of the state machine matches bit-for-bit, and the result
# is independent of partitioning, task order and cluster size.
#
#   W(u)   = sum of u's out-edge weights (out-degree when unweighted)
#   S(v)   = sum over edges u->v of (r_k(u) * w(u,v)) div W(u)
#   share  = (sum of r_k(u) over dangling u) div N      (dangling mass)
#   r_{k+1}(v) = teleport_e6 + (damp_num * (S(v) + share)) div damp_den
#
# Scale shape (host graph at corpus scale: ~1e8 nodes, ~1e10 edges): the
# edge relation is computed once, hash-partitioned on src and cached; per
# round the joins reuse that distribution, so the only real per-round
# shuffle is the contribution aggregation on dst. Rounds are EAGER
# (persist + count, drop the previous round) per this module's contract —
# a lazy multi-round plan re-derives the edge relation once per rank
# reference. The returned frame stays persisted; callers running repeatedly
# in one session should .unpersist() it.


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    teleport_e6: int = 150_000,
    damp_num: int = 85,
    damp_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank over a directed edge list → (node, rank_e6).

    Edges are taken AS GIVEN: pass multiplicities via ``weight_col``
    (e.g. graph_hostlinks' n_links) or pre-distinct them for an unweighted
    walk. Dangling nodes (no out-edges) redistribute their mass uniformly.
    """
    w = (
        F.col(weight_col).cast("bigint")
        if weight_col
        else F.lit(1).cast("bigint")
    )
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        w.alias("w"),
    )
    ow = e.groupBy("src").agg(F.sum("w").alias("ow"))
    ed = (
        e.join(ow, "src")
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition("node")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_nodes = nodes.count()  # also materializes the node cache
    dangling = nodes.join(
        ow.select(F.col("src").alias("node")), "node", "left_anti"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ranks = nodes.select(
        "node", F.lit(1_000_000).cast("bigint").alias("r")
    )
    # LAZY rounds (r05): the walk has a FIXED iteration count — no
    # convergence check reads a round's result on the driver — so the
    # old per-round count() barriers bought nothing but scheduling
    # overhead (measured 36% of graph_ppr's wall at sf0.1). Each round
    # still persists (two consumers next round: dangling mass + the
    # contribution join — without the cache the lineage re-expands
    # 2^iters), the caches populate during the ONE final action, and
    # every round frame is released after the eager localCheckpoint of
    # the result. Memory holds iters × |V| small rows, MEMORY_AND_DISK.
    # Iterative ops WITH driver-read convergence checks (CC, BFS, LPA)
    # keep their eager rounds — the count IS the fixpoint test there.
    cached = []
    for _ in range(iters):
        dm = (
            ranks.join(dangling, "node")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("dm"))
        )
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(
                ed["dst"].alias("node"),
                F.expr("(r * w) div ow").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "node",
                (
                    F.lit(teleport_e6)
                    + F.expr(
                        f"({damp_num} * (coalesce(s, 0)"
                        f" + (dm div {n_nodes}))) div {damp_den}"
                    )
                ).cast("bigint").alias("r"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cached.append(ranks)
    out = ranks.select("node", F.col("r").alias("rank_e6"))
    out = out.localCheckpoint(eager=True)
    for df in (ed, nodes, dangling, *cached):
        df.unpersist()
    return out


def hits(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS (Kleinberg hubs & authorities) → (node, hub_e6, auth_e6).

    All-integer update with MAX-normalization so a DuckDB oracle can
    replay it exactly (the pagerank discipline — sums are BIGINT sums,
    divisions are non-negative integer DIV, so aggregation order can
    never change a bit):

        a_raw(v) = sum_{u->v} h(u);  a(v) = (a_raw * 1e6) DIV max(a_raw)
        h_raw(u) = sum_{u->v} a(v);  h(u) = (h_raw * 1e6) DIV max(h_raw)

    Max-normalization replaces the textbook L2 norm (a sqrt would leave
    the integer domain); the fixed point is the same principal
    eigenvector direction, scaled so the top node sits at 1e6. Nodes
    without in-edges have authority 0; without out-edges, hub 0.

    Overflow headroom: a_raw <= max_in_degree * 1e6; the later *1e6
    keeps everything < 2^63 while max_in_degree < ~9e6 — at true web
    scale normalize each round by the running max BEFORE the multiply
    (documented knob, not needed at driver SFs).

    Scale shape per round: two shuffles (groupBy dst, groupBy src), each
    partial-aggregated map-side; the normalizer is a 1-row broadcast.
    Rounds are eagerly materialized with localCheckpoint (not bare
    persist): each score frame references its predecessor TWICE (via the
    aggregate and via its max), so an unbroken lazy lineage is 4^iters
    plan subtrees — the checkpoint keeps the plan O(1) deep per round.
    On a real cluster use reliable checkpointing for fault tolerance
    (localCheckpoint trades that away, per this module's CC notes).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes.count()
    h = nodes.select("node", F.lit(1_000_000).cast("bigint").alias("h"))
    a = None
    for _ in range(iters):
        araw = (
            e.join(h, e["src"] == h["node"])
            .groupBy("dst")
            .agg(F.sum("h").alias("s"))
        )
        amax = araw.agg(F.max("s").alias("mx"))
        a = (
            nodes.join(araw, nodes["node"] == araw["dst"], "left")
            .crossJoin(F.broadcast(amax))
            .select(
                "node",
                F.coalesce(
                    F.expr("(s * 1000000) DIV mx"), F.lit(0)
                ).cast("bigint").alias("a"),
            )
            .localCheckpoint(eager=True)
        )
        hraw = (
            e.join(a, e["dst"] == a["node"])
            .groupBy("src")
            .agg(F.sum("a").alias("s"))
        )
        hmax = hraw.agg(F.max("s").alias("mx"))
        h = (
            nodes.join(hraw, nodes["node"] == hraw["src"], "left")
            .crossJoin(F.broadcast(hmax))
            .select(
                "node",
                F.coalesce(
                    F.expr("(s * 1000000) DIV mx"), F.lit(0)
                ).cast("bigint").alias("h"),
            )
            .localCheckpoint(eager=True)
        )
    out = (
        h.join(a.select("node", "a"), "node")
        .select(
            "node",
            F.col("h").alias("hub_e6"),
            F.col("a").alias("auth_e6"),
        )
        .localCheckpoint(eager=True)
    )
    e.unpersist()
    nodes.unpersist()
    return out


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Multi-source BFS over a directed edge list → (node, dist) for every
    node within ``max_hops`` of any seed (dist = hop count to the NEAREST
    seed; seeds themselves are dist 0).

    Frontier expansion, not matrix powering: each round joins only the
    newly-reached frontier against the edge table (repartitioned on src
    once, reused every round), dedups, and anti-joins the settled set so a
    node is labeled the FIRST round it appears — which is exactly min-dist,
    no min-aggregation needed. Rounds are eager (persist + count) like
    pagerank's, keeping recompute depth at 1; frontier size is |reached
    this round|, never |V|; the settled set is a lazy union over the
    per-round persisted frames (it needs no action of its own). The
    RETURNED frame is an eager localCheckpoint — self-contained, every
    intermediate released before returning. At corpus scale the settled
    set is the memory bound — for deeper traversals swap the anti-join
    target to a bucketed table checkpoint (and reliable checkpointing
    for fault tolerance, per the CC notes above)."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).repartition("src").persist(StorageLevel.MEMORY_AND_DISK)
    seed0 = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    seed0.count()
    # settled = lazy union over the per-round PERSISTED frames: each
    # round's anti-join recomputes only the cheap union wrapper, so the
    # set needs no persist/count of its own (round 4 close: dropping the
    # per-round settled materialization saved one full action per hop —
    # the rounds' cost is the frontier join, not this bookkeeping)
    settled = seed0
    frontier = seed0.select("node")
    to_release = [e, seed0]
    for k in range(1, max_hops + 1):
        nxt = (
            e.join(frontier, e["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(settled, "node", "left_anti")
            .withColumn("dist", F.lit(k).cast("bigint"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        to_release.append(nxt)
        if nxt.count() == 0:
            break
        settled = settled.union(nxt)
        frontier = nxt.select("node")
    # one eager materialization makes the result self-contained, so every
    # per-round frame (the union's children included) can be released
    # here instead of leaking to the caller
    out = settled.localCheckpoint(eager=True)
    for df in to_release:
        df.unpersist()
    return out


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007)
    → (node, community).

    Connected components answers "is there ANY path" — one sparse bridge
    fuses two dense clusters. LPA answers the community question instead:
    each node adopts the label held by the MOST of its neighbors
    (tie-break: smallest label), all nodes updating simultaneously from
    the previous round's labels, so a dense cluster converges to its
    minimum node id while a lone bridge edge is outvoted. Deterministic
    by construction: the argmax is a row_number over (count DESC, label
    ASC) — no randomized update order, and a fixed ``iters`` rather than
    a convergence test, so a DuckDB oracle replays every round exactly.

    Scale shape per round: one shuffle to join labels onto the
    (both-directions) edge list, one partial-aggregated groupBy
    (node, label) count, one node-keyed window for the argmax. Rounds
    are eagerly localCheckpoint'd (the pagerank discipline) so the plan
    stays O(1) deep. Isolated nodes never enter the edge list and are
    their own singleton communities by definition — callers union them
    back if they carry node sets wider than the edges.
    """
    from pyspark.sql import Window

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    und = (
        e.union(e.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    und.count()
    labels = und.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("n").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(iters):
        nb = und.join(labels, und["dst"] == labels["node"]).select(
            und["src"].alias("n"), "lbl"
        )
        cnt = nb.groupBy("n", "lbl").agg(F.count("*").alias("c"))
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("n").alias("node"), "lbl")
            .localCheckpoint(eager=True)
        )
    und.unpersist()
    return labels.select("node", F.col("lbl").alias("community"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 4,
    teleport_e6: int = 150_000,
    damp_num: int = 85,
    damp_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Personalized PageRank → (node, rank_e6): the random walk restarts
    at the SEED set instead of uniformly, so mass concentrates in the
    seeds' neighborhood — the related-pages / topic-locality primitive
    global PageRank cannot express (its stationary mass spreads over the
    whole graph). Same integer discipline as :func:`pagerank`: e6
    fixed-point BIGINTs, floor divisions over non-negative operands,
    eager per-round materialization. Differences, all seed-scoped:
    initial mass 1e6 on each seed (0 elsewhere), the teleport term pays
    only seeds, and dangling mass redistributes uniformly over the
    seeds. Per round: one contribution shuffle + one 1-row dangling-mass
    broadcast — identical cost shape to the global walk."""
    # repartition FIRST, dedupe second: hashpartitioning(src) satisfies
    # the dedup's (src, dst) clustering requirement, so the distinct
    # runs in place on the repartitioned data — one shuffle instead of
    # the stacked distinct-then-repartition pair (measured ~2s of the
    # sf0.1 setup)
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .repartition("src")
        .dropDuplicates()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # out-degrees attach to the |V|-sized RANK relation per round, never
    # to the edge relation: gluing ow onto edges costs an extra
    # edge-sized join + shuffle + persist at setup (measured ~40% of the
    # whole walk at sf0.1), while ranks ⋈ ow is tiny every round
    ow = (
        e.groupBy("src")
        .agg(F.count("*").cast("bigint").alias("ow"))
        .withColumnRenamed("src", "node")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # is_seed is FUSED into the node relation once — the round-4 close
    # profile showed a per-round sd join costing ~40% of the walk; the
    # per-round plan is now one contrib join + one 1-row broadcast, the
    # same shape as the global walk
    sd0 = seeds.select(F.col(node_col).alias("node")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(sd0.withColumn("is_seed", F.lit(1)), "node", "left")
        .select("node", F.coalesce("is_seed", F.lit(0)).alias("is_seed"))
        .repartition("node")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_seeds = nodes.filter(F.col("is_seed") == 1).count()
    if n_seeds == 0:
        for df in (e, ow, nodes):
            df.unpersist()
        raise ValueError("personalized_pagerank: empty seed set")
    dangling = nodes.select("node").join(
        ow.select("node"), "node", "left_anti"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ranks = nodes.select(
        "node",
        "is_seed",
        F.expr(
            "CAST(CASE WHEN is_seed = 1 THEN 1000000 ELSE 0 END"
            " AS BIGINT)"
        ).alias("r"),
    )
    # LAZY rounds (r05) — same rationale as :func:`pagerank`: fixed
    # iteration count, no driver-read convergence check, so the per-round
    # count() barriers were pure scheduling overhead (9.5 → 6.1 s median
    # at sf0.1, results bit-identical). Rounds stay persisted until the
    # final eager localCheckpoint, then everything is released.
    cached = []
    for _ in range(iters):
        dm = ranks.join(dangling, "node").agg(
            F.coalesce(F.sum("r"), F.lit(0)).alias("dm")
        )
        renr = ranks.join(ow, "node").select(
            F.col("node").alias("rnode"), F.expr("r div ow").alias("c")
        )
        # the rank side is |V|-tiny — broadcast it EXPLICITLY: left to
        # AQE, the (sub-10MB at driver SFs) edge relation wins the
        # build side and gets re-broadcast every round; at corpus scale
        # edges never fit a broadcast and ranks always do, so the
        # explicit hint is also the only plan that survives 100x
        contrib = (
            e.join(F.broadcast(renr), e["src"] == renr["rnode"])
            .select(e["dst"].alias("node"), "c")
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "node",
                "is_seed",
                F.expr(
                    f"CAST(CASE WHEN is_seed = 1 THEN {teleport_e6}"
                    " ELSE 0 END"
                    f" + ({damp_num} * (coalesce(s, 0)"
                    " + CASE WHEN is_seed = 1 THEN"
                    f" dm div {n_seeds} ELSE 0 END))"
                    f" div {damp_den} AS BIGINT)"
                ).alias("r"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cached.append(ranks)
    out = ranks.select("node", F.col("r").alias("rank_e6"))
    out = out.localCheckpoint(eager=True)
    for df in (e, ow, nodes, dangling, *cached):
        df.unpersist()
    return out
