"""Per-round benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the ``noop`` sink (full evaluation of every
column on executors, nothing collected to the driver), timed after a small
warm-up query so JVM/py4j startup is not billed to the first entry.

Measurement protocol (same as scripts/bench_scaling.py, round-4 change):
this sandbox is a shared-host VM with multi-second CPU-steal bursts, so a
single reading can be inflated several-fold and a best-of-2 can still land
entirely inside a burst. Every entry is therefore timed over
``SPARK_GRAFT_BENCH_CYCLES`` (default 3) full runs; the headline
``queries`` numbers are the per-query MEDIAN, with the best run, all raw
runs, and the /proc/stat steal-jiffy delta around each run recorded next
to them (``queries_best`` / ``query_runs`` / ``query_steal_jiffies``) —
a slow median with high steal is host contention, a slow median with low
steal is a real regression, attributable from this JSON alone.

The flagship extraction additionally reports docs/sec over a deterministic
synthetic pages table (``ocr_spark.gen.bench_pages`` — no external data);
``docs_per_sec`` is median-derived under the same protocol. The full
N-vs-4N scaling evidence lives in scripts/bench_scaling.py and
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

# headline subset: flagship + one representative per SURVEY.md §2 family
HEADLINE = [
    "extract_wrapped",      # C: full extraction pipeline (ops 11-17)
    "join_shuffle",         # D: large-large sort-merge join
    "join_broadcast",       # D: broadcast hash join
    "agg_basic",            # E: partial+final aggregation
    "agg_percentile",       # E: approx percentiles
    "win_rownum_dedup",     # F: window dedup
    "span_offsets",         # F: running-sum frames
    "topk",                 # G: TakeOrderedAndProject
    "dedup_minhash_pairs",  # training-data: MinHash LSH band join (16 perms)
    "dedup_exact",          # training-data: exact hash dedup
    "dedup_cc",             # training-data: connected-components dedup to fixpoint
    "dedup_embcos",         # training-data: embedding-cosine near-dup pairs
    "sim_cosine_topk",      # training-data: brute-force ANN baseline
    "sim_ann_multiprobe",   # training-data: probe-table ANN, per-probe top-k
    "sim_ann_ivf",          # training-data: IVF coarse-quantizer ANN
    "join_range_bucket",    # D: bucketized non-equi interval join (no BNLJ)
    "text_quality",         # training-data: quality scoring
    "text_fingerprint",     # training-data: doc fingerprints
    "pipe_repetition",      # corpus prep: Gopher repetition signals (2 explode branches)
    "pipe_contamination",   # corpus prep: 3-gram eval-overlap screen (broadcast)
    # round-4 additions (not in the r1-r3 comparable set)
    "pipe_pack_hashed",     # corpus prep: token packing on the hashed shard key
    "sim_ann_ivf_trained",  # training-data: IVF with one trained Lloyd iteration
    # late round-4 corpus block 2
    "dedup_substr_spans",   # training-data: exact-substring duplicate spans
    "dedup_substr_clean",   # training-data: substring-dedup removal path
    "text_ppl_proxy",       # training-data: corpus-LM perplexity proxy
    "sim_ann_pq",           # training-data: product-quantization ADC ANN
    "pipe_shuffle_shard",   # corpus prep: seeded training-order shuffle
    "dedup_substr_prod",    # training-data: substring spans at production knobs
    "text_collocations",    # training-data: PMI bigram collocations
    # late round-4 web-graph & learned-quality block
    "extract_links",        # webtext: SPEC §5 outlink product (real parse)
    "dedup_lines_boiler",   # webtext: CCNet line/segment boilerplate dedup
    "pipe_dsir",            # corpus prep: DSIR importance weights (2-scan)
    "quality_lr_score",     # corpus prep: trained LR quality filter (3 GD steps)
    # late round-4 web-ingestion & crawl-index block
    "scan_warc_gzip",       # webtext: archive synth + gzip-member split round-trip
    "web_cdx",              # webtext: SURT/offset capture index (one window)
    "web_crawl_diff",       # webtext: snapshot diff (one full outer join)
    "pipe_robots_filter",   # webtext: RFC 9309 longest-prefix scoping
    # late round-4 URL canonicalization & frontier block
    "web_url_canon",        # webtext: zero-Exchange URL canonicalization
    "web_frontier",         # webtext: diff -> robots -> politeness as ONE plan
    # late round-4 training-prep & retrieval block
    "pipe_chunk_windows",   # training prep: context-window chunking (map-only)
    "search_bm25_topk",     # retrieval: postings build + broadcast BM25 top-k
    # late round-4 clustering / profiling / sketches / layout / events
    "cluster_kmeans",       # training-data: integer-exact Lloyd k-means
    "dedup_semantic",       # training-data: SemDeDup within-cluster pairs
    "profile_table",        # warehouse: one-pass column profile (Expand)
    "sketch_bloom_seen",    # scale: Bloom build + broadcast probe
    "sketch_cms_heavy",     # scale: count-min heavy hitters (192-cell matrix)
    "sketch_hll_distinct",  # scale: HLL registers + integer estimate
    "table_zorder_key",     # layout: Morton key over min/max-scaled columns
    "events_sessionize",    # analytics: gap sessions (one user-keyed window)
    "events_funnel",        # analytics: ordered 3-step funnel (no self-join)
    "events_retention",     # analytics: cohort triangle
    # late round-4 fuzzy join + table extraction + paragraph dedup
    "dedup_editdist_pairs",  # training-data: SymSpell deletion-1 fuzzy join
    "extract_tables_wrapped",  # webtext: SPEC §7 table-cell product (real parse)
    "dedup_para_keepfirst",  # training-data: CCNet keep-first paragraph dedup
    "search_keywords_tfidf",  # retrieval: per-doc tf-idf top-5 (vocab join + window)
    "graph_host_components",  # webtext: site families (CC over parsed host graph)
    "mm_phash_dedup",       # multimodal: aHash image dedup (real BMP decode)
    "extract_langid_wrapped",  # webtext: language-recovering extraction (real parse)
    "search_snippets",      # retrieval: explode-free first-occurrence windows
    "text_ppl_kn",          # training-data: Kneser-Ney bigram LM (2 corpus passes)
    "pipe_ppl_buckets",     # corpus prep: CCNet head/middle/tail terciles
    "dedup_containment",    # training-data: quote/subset containment pairs
    # late round-4 SQL entry point + real media decode
    "tpch_q1",              # SQL surface: pricing summary (partial/final agg)
    "tpch_q18",             # SQL surface: HAVING subquery as LeftSemi join
    "tpch_q4",              # SQL surface: correlated EXISTS as LeftSemi
    "tpch_q19",             # SQL surface: OR-of-ANDs residual hash join
    "tpch_q22",             # SQL surface: scalar subquery + LeftAnti
    "mm_decode_png",        # multimodal: real zlib PNG decode (5 filters)
    "mm_decode_gif",        # multimodal: real LZW GIF decode + interlace
    "mm_sniff_decode",      # multimodal: magic-dispatch mixed-format ingest
    "mm_sniff_all",         # multimodal: five-format dispatch incl. tiff/jpeg
    # final round-4 additions
    "mm_decode_jpeg",       # multimodal: real baseline JPEG entropy decode
    "mm_mp4_meta",          # multimodal: ISO-BMFF structural box walk
    "dq_suite",             # warehouse: Deequ-style suite as ONE scan
    "stream_dq_metrics",    # warehouse: exactly-once streaming DQ fold
    "events_anomaly",       # analytics: rolling z-score outliers
    # session-3 round-4 additions (suite completion + closure entries)
    "tpch_q2",              # SQL surface: correlated scalar MIN decorrelation
    "tpch_q8",              # SQL surface: deepest join tree (7 tables)
    "tpch_q17",             # SQL surface: double correlated-agg decorrelation
    "tpch_q21",             # SQL surface: semi+anti with inequality residual
    "scan_xml_roundtrip",   # connector: built-in xml source round-trip
    "join_lateral",         # SQL surface: LATERAL -> WindowGroupLimit
    "pipe_c4_rules",        # corpus prep: C4 line-level cleaning (narrow map)
    "pipe_sample_systematic",  # corpus prep: stride-walk weighted sample
    "graph_bfs_dist",       # webtext: multi-source BFS frontier expansion
    "sketch_source_jaccard",  # corpus diagnostics: source-vs-source MinHash
    "sim_random_projection",  # training-data: +-1 JL projection (zero Exchange)
    "events_scd2",          # warehouse: SCD2 gaps-and-islands intervals
    "stream_scd2",          # warehouse: streaming SCD2 (event-log fold)
    # session-4 Spark 4 SQL surface block
    "sql_recursive_cte",    # SQL surface: WITH RECURSIVE month spine (agg-first)
    "fn_variant",           # SQL surface: VARIANT typed-path extraction
    "fn_sql_udf",           # SQL surface: catalog SQL UDF (Catalyst-inlined)
    "agg_group_by_all",     # SQL surface: GROUP BY ALL sugar -> plain agg
    "set_union_byname",     # SQL surface: UNION ALL BY NAME schema evolution
    # session-4 runtime-pruning join block
    "join_dpp",             # scale: dynamic partition pruning (month dirs)
    "join_runtime_bloom",   # scale: runtime bloom filter on probe side
    # session-4 privacy-release block
    "privacy_k_anon",       # privacy: k-anonymous release (window + suppress)
    "privacy_l_div",        # privacy: l-diversity homogeneity audit
    # session-4 sketch-algebra + time-series block
    "sketch_hll_merge",     # scale: per-source HLL tables MAX-fold == global
    "events_ewma",          # analytics: integer-exact EWMA (bounded frame)
    "sketch_hist_merge",    # scale: per-source histograms SUM-fold == global
    "join_temporal_scd2",   # warehouse: as-of tier enrich via union-fold
    "events_seqpattern",    # analytics: regex-over-sequence funnel counting
    "scan_csv_corrupt",     # connector: PERMISSIVE corrupt-record quarantine
    "udtf_table_arg",       # SQL surface: partitioned TABLE-arg UDTF digest
    "scan_merge_schema",    # connector: mergeSchema evolution-on-read union
    "fn_collation",         # SQL surface: UTF8_LCASE collated grouping
    "fn_try_arith",         # SQL surface: ANSI-safe try_* error containment
    # session-5 round-4 additions
    "pipe_sample_reservoir",  # corpus prep: A-ES weighted reservoir (top-K merge)
    "dedup_sorted_neighborhood",  # training-data: SN blocking (window, no fan-out)
    "graph_label_prop",     # webtext: LPA communities (3 checkpointed rounds)
    "events_ab_test",       # analytics: two-proportion z-test readout
    "pipe_triplets",        # training prep: contrastive triplet construction
    "sim_maxsim",           # retrieval: ColBERT MaxSim late interaction
    "graph_ppr",            # webtext: personalized PageRank (seed restart)
    "profile_join_advisor",  # scale: broadcast/salt/shuffle advisory profile
    "text_readability",     # training-data: integer Flesch scoring (narrow map)
    "events_forecast_naive",  # analytics: seasonal-naive backtest (lag-4)
    "events_cohort_ltv",    # analytics: cohort LTV running cent sums
    "join_bucketed",        # scale: co-located bucketed join (write + join)
    "stream_reservoir",     # streaming: exactly-once K-bounded reservoir fold
    "tokenizer_unigram_vocab",  # training-data: unigram-LM Viterbi-EM trainer
    # session-5 round-4 additions, batch 2
    "scan_json_corrupt",    # connector: PERMISSIVE JSON quarantine semantics
    "events_path_analysis",  # analytics: Markov transition matrix
    "pipe_span_corruption",  # training prep: T5 denoising examples (narrow map)
    "pipe_fim_transform",   # training prep: FIM/PSM infilling examples
    "sketch_kmv_jaccard",   # scale: bottom-k sketch + Jaccard (TakeOrdered)
    "pipe_dpo_pairs",       # training prep: preference pairs by quality rank
    "web_redirects",        # webtext: redirect chains by pointer doubling
    "table_snap_wap",       # warehouse: branch/tag write-audit-publish
    "mm_image_tiles",       # multimodal: ViT-style 3x3 patching (real decode)
    "events_attribution",   # analytics: linear + last-touch attribution
    "events_rfm",           # analytics: RFM quartile segmentation
    "text_sentiment",       # training-data: integer lexicon sentiment
    "quality_lr_calibration",  # ML eval: reliability diagram for the LR filter
    "search_rake_keyphrases",  # retrieval: corpus-free RAKE keyphrases
    "events_survival",      # analytics: Kaplan-Meier churn curve
    "graph_2hop_recs",      # webtext: co-occurrence recs (capped wedge)
    "text_compressibility",  # training-data: zlib entropy proxy (UDF)
    "profile_dataset_card",  # warehouse: one-row corpus datasheet
    "events_active_users",  # analytics: DAU/WAU/MAU + stickiness
    "events_streaks",       # analytics: consecutive-day islands
    "events_heatmap",       # analytics: dense 7x24 usage matrix
    "pipe_pack_ffd",        # training prep: FFD whole-doc packing
    # round-5 additions
    "scan_avro_roundtrip",  # connector: Avro round-trip (bundled classes)
    "join_anti",            # D: anti join (non-empty survivor set, r05 fix)
]

BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "50000"))
BENCH_CYCLES = int(os.environ.get("SPARK_GRAFT_BENCH_CYCLES", "3"))

def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _steal_jiffies() -> int:
    """Host CPU-steal counter (field 8 of /proc/stat's cpu line) — the
    contention context every timing is recorded against."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


class _Timings:
    """median-of-cycles timing store: med (headline), best, raw runs and
    per-run steal-jiffy deltas per entry."""

    def __init__(self) -> None:
        self.med: dict[str, float] = {}
        self.best: dict[str, float] = {}
        self.runs: dict[str, list[float]] = {}
        self.steal: dict[str, list[int]] = {}

    def time(self, name: str, fn, cycles: int = BENCH_CYCLES) -> None:
        import statistics

        runs, steals = [], []
        for _ in range(cycles):
            st0 = _steal_jiffies()
            start = time.perf_counter()
            fn()
            runs.append(round(time.perf_counter() - start, 3))
            steals.append(_steal_jiffies() - st0)
        self.med[name] = round(statistics.median(runs), 3)
        self.best[name] = min(runs)
        self.runs[name] = runs
        self.steal[name] = steals


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from ocr_spark.session import build_session

    spark = build_session(
        master=f"local[{cpus}]",
        app_name="ocr-spark-bench",
        shuffle_partitions=int(cpus),
    )
    try:
        import __spark_entry__ as entrymod

        registry = entrymod.queries()
        # warm-up: touch every input table once (parquet footer reads, JVM JIT)
        from ocr_spark.queries import TABLES, t

        for tb in TABLES:
            t(spark, sf_dir, tb).count()

        tm = _Timings()
        for name in HEADLINE:
            tm.time(
                name,
                lambda name=name: _materialize(registry[name](spark, sf_dir)),
            )

        # dedup_cc's fixpoint persists its labels per run (documented in
        # functions/graph.py) — release them before the next section so
        # repeated cycles don't accumulate cached frames
        spark.catalog.clearCache()

        # production-width MinHash: the 64-perm/16-band default
        # (queries_textml.PROD_NUM_PERMS — see the banding math there) timed
        # against the 16-perm oracle width already in HEADLINE, so the
        # cost-per-width of the production setting is on record
        from ocr_spark.functions.graph import bucket_connected_components
        from ocr_spark.queries_textml import (
            PROD_BANDS,
            PROD_NUM_PERMS,
            minhash_band_keys,
            minhash_candidate_pairs,
            minhash_group_reps,
            minhash_signatures,
        )

        docs = t(spark, sf_dir, "documents")
        for nm, make in [
            (
                "dedup_minhash_pairs_64p16b",
                lambda: minhash_candidate_pairs(
                    docs, num_perms=PROD_NUM_PERMS, bands=PROD_BANDS,
                    materialize_bands=True,
                ),
            ),
            (
                "dedup_minhash_groups_64p16b",
                lambda: minhash_group_reps(
                    docs, num_perms=PROD_NUM_PERMS, bands=PROD_BANDS,
                    materialize_bands=True,
                ),
            ),
            # the CC fixpoint at production width: same banding, a few extra
            # linear label-propagation rounds on top of the star pass
            (
                "dedup_cc_64p16b",
                lambda: bucket_connected_components(
                    minhash_band_keys(
                        minhash_signatures(docs, num_perms=PROD_NUM_PERMS),
                        PROD_BANDS,
                        PROD_NUM_PERMS // PROD_BANDS,
                    )
                ),
            ),
        ]:
            tm.time(nm, lambda make=make: _materialize(make()))
        spark.catalog.clearCache()  # dedup_cc_64p16b label frames

        # flagship throughput: synthetic pages table, seed-fixed, docs/sec
        from ocr_spark.gen import bench_pages
        from ocr_spark.operators.extract import extract_pages

        # one partition per core: each mapInArrow task pays a ~18 ms
        # Python-worker round-trip (measured via a 32/64/128/256-partition
        # sweep: 56.6k/41.9k/18.9k/16.5k docs/s at 50k docs), so small
        # tasks are dominated by it. At production split sizes (thousands
        # of docs per task) the overhead amortizes away; 1x cpus is the
        # honest steady-state shape for a 50k-doc corpus.
        pages = bench_pages(spark, BENCH_DOCS).repartition(int(cpus))
        pages.cache().count()  # exclude generation from the timed window
        # warm-up (BASELINE.md protocol): spawns the Python UDF workers so
        # fork/import cost isn't billed to the measured run
        _materialize(extract_pages(bench_pages(spark, 2000)))
        tm.time(
            "extract_synthetic_pages",
            lambda: _materialize(extract_pages(pages)),
        )
        pages.unpersist()
        extract_sec = tm.med["extract_synthetic_pages"]

        # adversarial shape: MAX_BLOCKS-sized link-farm pages. Guards the
        # smoothing stage's O(n) rewrite — the round-1 per-element scan was
        # O(MAX_BLOCKS^2) per doc and dragged exactly this corpus.
        from pyspark.sql import functions as F

        from ocr_spark.schemas import PAGES_SCHEMA

        big_html = (
            "<p>xx</p><p>the of it is and to in that for on as with at by"
            " from up about</p>" * 1000
        ).encode()
        big = spark.createDataFrame(
            [(f"https://big.example.com/{i}", None, big_html, None, "en")
             for i in range(256)],
            PAGES_SCHEMA,
        ).repartition(int(cpus))
        big.cache().count()
        tm.time(
            "extract_maxblocks_256", lambda: _materialize(extract_pages(big))
        )
        big.unpersist()

        # production-shape end-to-end: parquet in -> extraction -> partitioned
        # zstd parquet out + lineage + manifest commits (the full runner)
        import shutil
        import tempfile

        from ocr_spark.operators.runner import run_extract

        e2e_dir = tempfile.mkdtemp(prefix="ocr-spark-bench-e2e-")
        try:
            src = f"{e2e_dir}/pages"
            bench_pages(spark, 20000).repartition(int(cpus)).write.parquet(src)
            e2e_runs: list[dict] = []

            def _e2e() -> None:
                res = run_extract(
                    spark, spark.read.parquet(src),
                    f"{e2e_dir}/out{len(e2e_runs)}",
                    run_id="bench", num_parts=64, parts_per_batch=64,
                )
                e2e_runs.append(res)

            tm.time("extract_e2e_runner_20k", _e2e)
            # per-phase wall seconds of the BEST attempt, so a contended
            # driver window is distinguishable from a real regression in
            # one phase (round-2 lesson: the 4x e2e delta was entirely the
            # lineage write path)
            e2e_stages = e2e_runs[
                tm.runs["extract_e2e_runner_20k"].index(
                    tm.best["extract_e2e_runner_20k"]
                )
            ]["stage_sec"]
        finally:
            shutil.rmtree(e2e_dir, ignore_errors=True)

        total = round(sum(tm.med.values()), 3)
        result = {
            "metric": f"headline query wall time ({len(HEADLINE)} registry "
            f"queries + extraction of {BENCH_DOCS} synthetic pages); "
            f"median of {BENCH_CYCLES} cycles per entry, steal-jiffy "
            "context per run (round-4 protocol — r1–r3 numbers were "
            "best-of-2 single-shot and noise-dominated under host steal)",
            "value": total,
            "unit": "sec",
            "queries": tm.med,
            "queries_best": tm.best,
            "query_runs": tm.runs,
            "query_steal_jiffies": tm.steal,
            "bench_cycles": BENCH_CYCLES,
            "sf": sf,
            "docs_per_sec": round(BENCH_DOCS / extract_sec, 1),
            "docs_per_sec_best": round(
                BENCH_DOCS / tm.best["extract_synthetic_pages"], 1
            ),
            "cpus": int(cpus),
            "e2e_stage_sec": e2e_stages,
        }
        # surface the last measured N->4N executor scaling efficiency from
        # the append-only history (scripts/bench_scaling.py): the LATEST
        # run's best-cycle and median — never a retained best-ever
        hist = pathlib.Path(__file__).resolve().parent / "BENCH" / "history.jsonl"
        if hist.is_file():
            lines = [ln for ln in hist.read_text().splitlines() if ln.strip()]
            if lines:
                last = json.loads(lines[-1])
                result["scaling_efficiency"] = last["best_cycle_efficiency"]
                result["scaling_efficiency_median"] = last["median_efficiency"]
                result["scaling_measured_ts"] = last["ts"]
                # the COMPLETE measurement record (medians include runs that
                # failed the gate under host CPU-steal): no cherry-picking
                # in either direction
                # best = best PAIRED cycle (max of the per-cycle ratios):
                # early runs recorded a cross-window pairing under
                # best_cycle_efficiency, so recompute uniformly
                result["scaling_history"] = [
                    {
                        "ts": (r := json.loads(ln))["ts"],
                        "exec_cores": r.get("exec_cores", 2),
                        "median": r["median_efficiency"],
                        "best": max(
                            r.get("cycle_efficiencies",
                                  [r["best_cycle_efficiency"]])
                        ),
                    }
                    for ln in lines
                ]
                result["scaling_efficiency"] = result["scaling_history"][-1][
                    "best"
                ]
                # the LATEST run's per-cycle efficiencies + host steal
                # jiffies per phase, so a regression is attributable from
                # this JSON alone (a low cycle with high steal = contention,
                # low cycle with low steal = a real scaling problem)
                result["scaling_cycles"] = last.get("cycle_efficiencies")
                result["steal_per_phase"] = last.get("steal_per_cycle")
        else:
            bench_md = (
                pathlib.Path(__file__).resolve().parent / "BENCH" / "BASELINE.md"
            )
            if bench_md.is_file():
                m = re.search(
                    r"scaling efficiency = [\d.,]+ / \(4 × [\d.,]+\) = ([\d.]+)",
                    bench_md.read_text(),
                )
                if m:
                    result["scaling_efficiency"] = float(m.group(1))
        print(json.dumps(result))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
