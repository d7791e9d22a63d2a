"""Physical-plan regression tests (SURVEY.md §4): the optimizations the
engine's 100 TB story depends on must be visible in the explain output, so a
refactor that silently reintroduces a shuffle or breaks pushdown fails CI.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def parquet_pages(spark, fixture_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plan_pages") / "pages")
    fixture_df.write.parquet(d)
    return d


def test_extraction_plan_has_no_shuffle(spark, fixture_df):
    """The fused pipeline is a narrow plan: scaling N->4N is bounded by
    input splits only. Any Exchange here is a regression."""
    from ocr_spark.operators.extract import extract_pages

    plan = _plan(extract_pages(fixture_df))
    assert "Exchange" not in plan
    assert re.search(r"MapInArrow|ArrowEvalPython|PythonMapInArrow", plan)


def test_extraction_single_python_boundary(spark, fixture_df):
    """Exactly one JVM->Python hop: the parse and the whole extraction
    tail (classify/smooth/assemble) share it."""
    from ocr_spark.operators.extract import extract_pages

    plan = _plan(extract_pages(fixture_df))
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1
    # no row-at-a-time Python UDFs anywhere
    assert "BatchEvalPython" not in plan


def test_filter_and_column_pushdown_to_scan(spark, parquet_pages):
    """Predicate + projection reach the parquet scan: the 100 TB read only
    materializes the filtered rows' url/lang columns."""
    df = (
        spark.read.parquet(parquet_pages)
        .filter(F.col("lang") == "en")
        .select("url", "lang")
    )
    plan = _plan(df)
    assert re.search(r"PushedFilters: \[.*EqualTo\(lang,en\)", plan), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",")
    ) == {"url", "lang"}, plan


def test_extraction_prunes_unused_page_columns(spark, parquet_pages):
    """The pipeline never reads the crawl-provided `text` column."""
    from ocr_spark.operators.extract import extract_pages

    plan = _plan(extract_pages(spark.read.parquet(parquet_pages)))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert "text" not in cols
    assert {"url", "warc_ts", "html", "lang"} <= cols


def test_broadcast_join_plan(spark):
    """join_broadcast must be a BroadcastHashJoin (no shuffle of lineitem)."""
    import __spark_entry__ as em

    df = em.queries()["join_broadcast"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ann_search_broadcasts_probe(spark):
    """sim_ann_search: the probe TABLE is broadcast, the embeddings table
    is never exchanged for the join, and the per-probe top-k never plans a
    cartesian shape."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["sim_ann_search"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_joins_avoid_nested_loop(spark):
    """join_range rides its equi-key; join_range_bucket decomposes the pure
    non-equi interval join into a bucket equi-join — neither may plan a
    BroadcastNestedLoopJoin (the O(|A|x|B|) + whole-side-broadcast shape)."""
    import __spark_entry__ as em

    q = em.queries()
    for name in ("join_range", "join_range_bucket"):
        plan = _plan(q[name](spark, "/root/testdata/sf0.001"))
        assert "NestedLoop" not in plan, f"{name} planned a nested-loop join"
        assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
                         plan), name


def test_agg_partial_final(spark):
    """agg_basic shows map-side partial aggregation before the exchange."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["agg_basic"](spark, "/root/testdata/sf0.001"))
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan.lower() or "Partial" in plan


def test_classify_stays_jvm_side(spark, fixture_df):
    """Ops 13-17 run inside the single MapInArrow, so nothing after it
    is a Python eval node (only a column-selecting Project), and the
    pre-parse stage is whole-stage codegen'd."""
    from ocr_spark.operators.extract import extract_pages

    plan = _plan(extract_pages(fixture_df))
    assert "codegen id" in plan  # scan+part_id stage is codegen'd
    # everything after the single MapInArrow is plain Project — no Python
    # eval nodes of any kind downstream of the parse
    tail = plan.split("MapInArrow", 1)[1]
    assert "EvalPython" not in tail and "MapInPandas" not in tail


def test_contamination_broadcasts_eval_side(spark):
    """pipe_contamination: the (small) eval n-gram set is broadcast; the
    train side — the 100 TB side — reaches the join without an Exchange."""
    import __spark_entry__ as em

    plan = _plan(
        em.queries()["pipe_contamination"](spark, "/root/testdata/sf0.001")
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly three shuffles: eval-dedup, the count_distinct's
    # (doc_id, h) de-dup phase, and the final doc_id agg — all AFTER the
    # broadcast join has shrunk the stream to the (rare) hits; never the
    # raw train n-gram stream pre-join
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 3


def test_pack_sequences_partitions_by_source(spark):
    """pipe_pack_sequences: the running-sum window partitions by source —
    a global (empty-partition) window would funnel the corpus through one
    task at scale."""
    import __spark_entry__ as em

    plan = _plan(
        em.queries()["pipe_pack_sequences"](spark, "/root/testdata/sf0.001")
    )
    assert re.search(r"Arguments:.*\[source", plan) or "hashpartitioning(source" in plan, plan
    # no SinglePartition exchange feeding the window
    assert "Exchange SinglePartition" not in plan


def test_pack_hashed_partitions_by_derived_shard(spark):
    """pipe_pack_hashed (r04 production shape): the window shuffles on the
    derived high-cardinality pack_shard key — parallelism is num_shards no
    matter how few distinct values any data column has; never a
    SinglePartition funnel."""
    import __spark_entry__ as em

    plan = _plan(
        em.queries()["pipe_pack_hashed"](spark, "/root/testdata/sf0.001")
    )
    assert (
        re.search(r"Arguments:.*\[pack_shard", plan)
        or "hashpartitioning(pack_shard" in plan
    ), plan
    assert "Exchange SinglePartition" not in plan


def test_pipeline_scan_and_scrub_stay_jvm_side(spark):
    """Sampling + scrubbing are map-only JVM plans: no Exchange, no Python."""
    import __spark_entry__ as em

    for name in ("pipe_sample_stratified", "pipe_scrub_pii"):
        plan = _plan(em.queries()[name](spark, "/root/testdata/sf0.001"))
        assert "Exchange" not in plan, name
        assert "Python" not in plan, name


def test_quality_filter_partial_agg_no_python(spark):
    """pipe_quality_filter: word stats aggregate map-side first (partial
    HashAggregate below the (doc_id, word) exchange), and the whole plan
    is JVM-side — the keep/drop decision never leaves codegen."""
    import __spark_entry__ as em

    plan = _plan(
        em.queries()["pipe_quality_filter"](spark, "/root/testdata/sf0.001")
    )
    assert "Python" not in plan
    # partial-then-final aggregation around the explode's exchange
    assert plan.count("HashAggregate") >= 4  # 2 agg levels x partial+final
    assert "hashpartitioning(doc_id" in plan


def test_substr_spans_linear_plan(spark):
    """Substring dedup (PLANS.md): exactly the gram-count Exchange and the
    doc_id island-window Exchange — no doc-doc join, no single-partition
    funnel, no nested loop."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_corpusml  # noqa: F401

    plan = _plan(QUERIES["dedup_substr_spans"](spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    # two hash-partition shuffles: gram counts, then doc_id for the window
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2
    # one shuffle keyed on the gram hash, one on the doc id (aliased _id)
    assert re.search(r"hashpartitioning\(g#", plan)
    assert re.search(r"hashpartitioning\(_id#", plan)


def test_substr_clean_no_single_partition(spark):
    """The removal path (PLANS.md): intervals collect + rebuild join add
    no single-partition stage and no extra gram scan beyond the spans
    shape."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_corpusml  # noqa: F401

    plan = _plan(QUERIES["dedup_substr_clean"](spark, "/root/testdata/sf0.001"))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    # winner agg rides the same gram Exchange: still two hash shuffles
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2


def test_pq_all_joins_broadcast_topk_no_global_sort(spark):
    """PQ ANN (PLANS.md): codebook/LUT joins are broadcast, the top-10 is
    TakeOrderedAndProject — never a global Sort, never a shuffled join."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_corpusml  # noqa: F401

    plan = _plan(QUERIES["sim_ann_pq"](spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 3


def test_outlinks_plan_no_shuffle_single_python_hop(spark, fixture_df):
    """SPEC §5 outlink product mirrors the flagship: narrow end-to-end,
    exactly one JVM->Python hop, the explode JVM-side."""
    from ocr_spark.operators.extract import extract_outlinks

    plan = _plan(extract_outlinks(fixture_df))
    assert "Exchange" not in plan
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1
    assert "BatchEvalPython" not in plan


def test_hostlinks_single_agg_exchange(spark):
    """Host link-graph aggregation: the only shuffle is the partial+final
    count on (src_host, dst_host); host attribution is JVM regex."""
    from ocr_spark.queries_webgraph import q_graph_hostlinks
    from tests.conftest import SF_SMALL

    plan = _plan(q_graph_hostlinks(spark, SF_SMALL))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "BatchEvalPython" not in plan


def test_url_filter_broadcasts_blocklist(spark):
    """The URL blocklist joins broadcast (the real list is MB-scale); the
    corpus side is never shuffled."""
    from ocr_spark.queries_webgraph import q_pipe_url_filter
    from tests.conftest import SF_SMALL

    plan = _plan(q_pipe_url_filter(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0


def test_dsir_broadcasts_model(spark):
    """DSIR scoring: the B-row log-ratio model is broadcast back; the only
    corpus-side Exchange is the per-doc weight aggregation."""
    from ocr_spark.queries_webgraph import q_pipe_dsir
    from tests.conftest import SF_SMALL

    plan = _plan(q_pipe_dsir(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    # scoring side: exactly one Exchange on the doc_id aggregation path
    # (the model-building side has its own two small aggs)
    assert plan.count("SortMergeJoin") == 0


def test_host_filter_reuses_group_key_exchange(spark):
    """Per-source mean + join back on the same key: no third shuffle, no
    Python."""
    from ocr_spark.queries_webgraph import q_pipe_host_filter
    from tests.conftest import SF_SMALL

    plan = _plan(q_pipe_host_filter(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # source-key aggregation + join; AQE may plan SMJ or broadcast — but
    # never a nested loop and never a Python boundary
    assert "NestedLoop" not in plan


def test_text_normalize_stays_jvm_side(spark):
    from ocr_spark.queries_webgraph import q_text_normalize
    from tests.conftest import SF_SMALL

    plan = _plan(q_text_normalize(spark, SF_SMALL))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_profile_table_is_one_scan_no_python(spark):
    """Every profile metric comes from ONE pass over the table: a single
    parquet scan (Expand implements the exact distincts over the same
    scan), a global partial/final agg, and a map-only stack() reshape —
    no Python anywhere."""
    from ocr_spark.queries_joins_aggs import q_profile_table
    from tests.conftest import SF_SMALL

    plan = _plan(q_profile_table(spark, SF_SMALL))
    # count tree nodes, not text mentions: formatted explain prints each
    # node once in the tree and once in the detail section
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "Python" not in plan


def test_outline_plan_narrow_single_python_hop(spark):
    """extract_outline (round 4): the h1..h6 product is a JVM filter over
    the same single-hop parse — zero Exchange, exactly one MapInArrow."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_webtables  # noqa: F401

    plan = _plan(QUERIES["extract_outline"](spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1
    assert "BatchEvalPython" not in plan


def test_snippets_plan_no_doc_side_explode(spark):
    """search_snippets (round 4): the doc-side match+window pass is
    map-side against the broadcast query term — the ONLY Generate in the
    plan is the postings explode inside the 1-row term derivation, and the
    term reaches the corpus via a broadcast, never a shuffled join."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_search  # noqa: F401

    plan = _plan(QUERIES["search_snippets"](spark, "/root/testdata/sf0.001"))
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_kn_plan_two_corpus_passes_no_python(spark):
    """text_ppl_kn (round 4 late): the KN train+score DAG touches the
    corpus exactly TWICE (one explode building the persisted bigram-type
    table, one explode for scoring) and no Python evaluation — the three
    model aggregations read the InMemoryRelation, never re-explode. The
    first cut without the persist re-exploded the corpus 4x (Catalyst
    column-pruned each branch differently, killing exchange reuse)."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_corpusml  # noqa: F401

    plan = _plan(QUERIES["text_ppl_kn"](spark, "/root/testdata/sf0.001"))
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 2
    assert "InMemoryTableScan" in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_containment_plan_no_cartesian_no_python(spark):
    """dedup_containment (round 4 late): candidates come from equi-joins on
    the shingle key — never a cartesian/BNLJ — and the whole pass is
    JVM-side. The (doc_id, sh) relation is localCheckpoint'd — four
    consumers, one materialization (measured 10x at sf0.1) — so the
    checkpoint scan must appear in place of repeated shingle lineages."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_textml  # noqa: F401

    plan = _plan(QUERIES["dedup_containment"](spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_tpch_q1_partial_final_and_pushdown(spark):
    """tpch_q1 (SQL entry point): exactly one partial/final HashAggregate
    pair, shipdate filter pushed into the parquet scan, no Python."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_tpch  # noqa: F401

    plan = _plan(QUERIES["tpch_q1"](spark, "/root/testdata/sf0.001"))
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert "LessThanOrEqual(l_shipdate" in plan  # PushedFilters
    assert "Python" not in plan


def test_tpch_q18_having_subquery_is_semi_join(spark):
    """tpch_q18: the HAVING-threshold IN subquery must plan as an
    aggregate feeding a SEMI join on orderkey — never a BNLJ or a
    cartesian against a materialized list."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_tpch  # noqa: F401

    plan = _plan(QUERIES["tpch_q18"](spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q5_no_cartesian(spark):
    """tpch_q5: the 6-table join with the nation-residual never plans a
    cartesian shape; dims ride hash joins."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_tpch  # noqa: F401

    plan = _plan(QUERIES["tpch_q5"](spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q4_exists_is_semi_join(spark):
    """tpch_q4: the correlated EXISTS must decorrelate to a SEMI join on
    orderkey — never a per-row subquery or a nested loop."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_tpch  # noqa: F401

    plan = _plan(QUERIES["tpch_q4"](spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q22_not_exists_is_anti_join(spark):
    """tpch_q22: NOT EXISTS plans as a LEFT ANTI join on custkey; the
    scalar average subquery is a one-row broadcast, not a rescan."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_tpch  # noqa: F401

    plan = _plan(QUERIES["tpch_q22"](spark, "/root/testdata/sf0.001"))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q19_disjunction_keeps_hash_join(spark):
    """tpch_q19: OR-of-ANDs must stay an equi hash join on partkey with
    a post-join residual, not degrade to a nested loop."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_tpch  # noqa: F401

    plan = _plan(QUERIES["tpch_q19"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)


def test_tpch_q2_correlated_min_decorrelates(spark):
    """tpch_q2: the correlated scalar MIN (with the repeated region
    filter inside) must decorrelate to an aggregate + equi-join on
    partkey — no nested loop, no per-row subquery, no Python."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_tpch  # noqa: F401

    plan = _plan(QUERIES["tpch_q2"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 2
    assert "Python" not in plan


def test_tpch_q16_not_in_is_null_aware_anti(spark):
    """tpch_q16: NOT IN over the filtered supplier set plans as an anti
    join (null-aware single-column form), never a materialized list or
    a cartesian."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_tpch  # noqa: F401

    plan = _plan(QUERIES["tpch_q16"](spark, "/root/testdata/sf0.001"))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q17_double_decorrelation(spark):
    """tpch_q17: BOTH correlated scalar aggregates (count and sum on the
    same partkey correlation) decorrelate to aggregate + join — the plan
    carries at least two aggregate pairs and no nested-loop shape."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_tpch  # noqa: F401

    plan = _plan(QUERIES["tpch_q17"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 4


def test_tpch_q20_nested_in_is_semi_chain(spark):
    """tpch_q20: both nested INs plan as LEFT SEMI joins (part-name
    prefix scan inside the lineitem aggregate inside the supplier
    probe); the HAVING threshold stays inside the aggregate."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_tpch  # noqa: F401

    plan = _plan(QUERIES["tpch_q20"](spark, "/root/testdata/sf0.001"))
    assert len(re.findall(r"LeftSemi", plan)) >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q21_semi_and_anti_with_inequality_residual(spark):
    """tpch_q21: EXISTS -> semi and NOT EXISTS -> anti on the same fact
    table, with the correlated suppkey INEQUALITY riding the orderkey
    equi-join as a residual — never a nested loop."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_tpch  # noqa: F401

    plan = _plan(QUERIES["tpch_q21"](spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_join_lateral_is_group_limit_plus_hash_join(spark):
    """join_lateral: the correlated LATERAL ORDER BY ... LIMIT must
    decorrelate to a WindowGroupLimit (rank pushed below the shuffle)
    feeding an equi hash join — never a per-outer-row re-execution or a
    nested loop."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_joins_aggs  # noqa: F401

    plan = _plan(QUERIES["join_lateral"](spark, "/root/testdata/sf0.001"))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)


def test_agg_rollup_single_expand_aggregate(spark):
    """agg_rollup: ROLLUP compiles to one Expand + one partial/final
    aggregate pair — not one aggregate per grouping set."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_joins_aggs  # noqa: F401

    plan = _plan(QUERIES["agg_rollup"](spark, "/root/testdata/sf0.001"))
    assert "Expand" in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2


def test_sql_recursive_cte_agg_before_broadcast_join(spark):
    """sql_recursive_cte: the fact table aggregates BEFORE the join (one
    scan, one partial/final pair over ~80 month keys) and the joined
    sides are both spine-sized, so the join is a broadcast; the
    recursion itself is a UnionLoop over OneRowRelation steps that never
    touches corpus-sized data."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_sql4  # noqa: F401

    plan = _plan(QUERIES["sql_recursive_cte"](spark, "/root/testdata/sf0.001"))
    assert "UnionLoop" in plan
    assert "BroadcastHashJoin LeftOuter BuildRight" in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert "SortMergeJoin" not in plan


def test_fn_sql_udf_inlines_no_python(spark):
    """fn_sql_udf: the CREATE FUNCTION body is a pure SQL expression, so
    Catalyst inlines it — no Python evaluation node appears, and the
    n_chars filter still reaches the parquet scan through the call
    site."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_sql4  # noqa: F401

    plan = _plan(QUERIES["fn_sql_udf"](spark, "/root/testdata/sf0.001"))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,0)]" in plan


def test_agg_group_by_all_is_plain_aggregate(spark):
    """agg_group_by_all: GROUP BY ALL / ORDER BY ALL are parser-level
    sugar — the physical plan is exactly the explicit-keys aggregate
    (one partial/final pair, no Expand)."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_sql4  # noqa: F401

    plan = _plan(QUERIES["agg_group_by_all"](spark, "/root/testdata/sf0.001"))
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert "Expand" not in plan


def test_join_dpp_prunes_partitions_at_runtime(spark):
    """join_dpp: the month-partitioned fact scan carries a
    dynamicpruningexpression in PartitionFilters — the join-derived month
    set prunes directories at listing time, which static pushdown cannot
    do. The dim side must reach the fact as a reused broadcast, not a
    shuffle."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_scaleopt  # noqa: F401

    plan = _plan(QUERIES["join_dpp"](spark, "/root/testdata/sf0.001"))
    assert "dynamicpruningexpression" in plan
    assert re.search(r"PartitionFilters: \[.*dynamicpruning", plan)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_join_runtime_bloom_guards_probe_scan(spark):
    """join_runtime_bloom: Catalyst injects bloom_filter_agg over the
    filtered build keys and a might_contain guard on the probe side, so
    non-matching lineitem rows die before the shuffle. The entry's
    newSession() conf floor must NOT leak into the shared session."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_scaleopt  # noqa: F401

    before = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold"
    )
    df = QUERIES["join_runtime_bloom"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    after = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold"
    )
    assert before == after


def test_privacy_k_anon_single_exchange(spark):
    """privacy_k_anon: one hash-partitioning exchange on the QI key feeds
    both the window count and the suppression filter — no self-join, no
    second shuffle before the output sort."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_privacy  # noqa: F401

    plan = _plan(QUERIES["privacy_k_anon"](spark, "/root/testdata/sf0.001"))
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1
    assert "Join" not in plan


def test_join_temporal_scd2_is_union_fold(spark):
    """join_temporal_scd2: the as-of enrichment is a union + ONE
    user-keyed window fold — no join operator anywhere (the naive
    interval join would explode per-interval and BNLJ on the range
    predicate). Exactly two user-keyed exchanges: one inside the SCD2
    build (whose windows AND island agg all ride it), one re-shuffling
    the union for the fold (the probe side's only shuffle)."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_events  # noqa: F401

    plan = _plan(QUERIES["join_temporal_scd2"](spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 2


def test_join_anti_pushdown_and_type(spark):
    """The r05 join_anti fix (non-empty survivor set): the key-shifted
    subset predicate must sit in the orders SCAN (DataFilters), the join
    must stay a true LeftAnti hash join, and the orders side must read
    only o_custkey — no full-row materialization of the big side."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_joins_aggs  # noqa: F401

    df = QUERIES["join_anti"](spark, "/root/testdata/sf0.01")
    plan = _plan(df)
    assert "LeftAnti" in plan, plan
    assert re.search(r"\(o_custkey#\d+L % 10\)", plan), plan
    m = [mm for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan)]
    orders_side = [mm.group(1) for mm in m if "o_custkey" in mm.group(1)]
    assert orders_side and all(
        s.strip() == "o_custkey:bigint" for s in orders_side
    ), plan
