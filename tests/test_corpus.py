"""Integrated corpus-funnel tests (operators/corpus.py +
scripts/corpus_job.py): stage monotonicity, parallelism invariance of the
kept set, packing-budget properties and the end-to-end job report.

The per-stage VALUE correctness is driver-graded by the pipe_quality_filter
and pipe_funnel DuckDB oracles (tests/test_oracle.py); these tests cover
what SQL oracles can't — invariance across partitionings, the persisted
production-width job path, and packing invariants."""

from __future__ import annotations

import json
import pathlib
import sys

import pytest

from tests.conftest import collect_then_uncache

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_ORACLE = "/root/testdata/sf0.01"


def _docs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )


def test_funnel_monotone_and_consistent(spark):
    from ocr_spark.operators.corpus import funnel_report, funnel_stages

    rows = {
        r["stage"]: r["n"]
        for r in funnel_report(funnel_stages(_docs(spark))).collect()
    }
    order = ["0_input", "1_train", "2_quality", "3_exact", "4_near",
             "5_clean", "6_sampled"]
    for a, b in zip(order, order[1:]):
        assert rows[b] <= rows[a], (a, b, rows)
    assert rows["0_input"] == 500
    assert rows["6_sampled"] > 0
    # token count is over the kept set only
    assert rows["7_tokens"] >= rows["6_sampled"] * 20  # min words per keeper


def test_kept_set_parallelism_invariant(spark):
    """The kept doc_id set must not depend on how the input is
    partitioned — every decision is md5/integer-derived."""
    from ocr_spark.operators.corpus import funnel_stages

    base = _docs(spark)
    kept1 = {
        r["doc_id"]
        for r in funnel_stages(base.repartition(1))["6_sampled"]
        .select("doc_id").collect()
    }
    kept13 = {
        r["doc_id"]
        for r in funnel_stages(base.repartition(13))["6_sampled"]
        .select("doc_id").collect()
    }
    assert kept1 == kept13 and kept1


def test_near_keepers_full_cc_subset(spark):
    """full_cc=True can only merge further, so its keeper set is a subset
    of the star pass's on the same corpus — and both keep at least the
    per-cluster representative."""
    from ocr_spark.operators.corpus import near_keepers

    d = _docs(spark)
    star = {r["doc_id"] for r in near_keepers(d).select("doc_id").collect()}
    cc = {
        r["doc_id"]
        for r in collect_then_uncache(
            near_keepers(d, full_cc=True).select("doc_id"))
    }
    assert cc and cc <= star


def test_quality_flags_empty_doc_short(spark):
    from ocr_spark.operators.corpus import FLAG_SHORT, quality_flags

    d = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, " ".join(f"w{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in quality_flags(d).collect()}
    assert out[1]["flags"] & FLAG_SHORT and out[1]["n_words"] == 0
    assert out[2]["flags"] & FLAG_SHORT and out[2]["n_words"] == 0
    assert out[3]["n_words"] == 40 and not (out[3]["flags"] & FLAG_SHORT)


def test_pack_sequences_budget_property(spark):
    """Within every (pack_shard, seq_id) bin the token sum exceeds the
    budget only by the bin's last (overflowing) doc, and seq_ids are dense
    per shard starting at 0 — under the default hashed shard key."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.corpus import pack_sequences, quality_flags

    budget = 500
    docs = quality_flags(_docs(spark))
    packed = pack_sequences(docs, budget)
    bins = (
        packed.groupBy("pack_shard", "seq_id")
        .agg(
            F.sum("n_words").alias("tok"),
            F.max("n_words").alias("max_doc"),
        )
        .collect()
    )
    assert bins
    for b in bins:
        assert b["tok"] < budget + b["max_doc"], b
    per_shard = {}
    for b in bins:
        per_shard.setdefault(b["pack_shard"], set()).add(b["seq_id"])
    for sh, ids in per_shard.items():
        assert ids == set(range(len(ids))), (sh, sorted(ids))


def test_pack_sequences_shard_count_invariance(spark):
    """The budget contract holds at EVERY shard count, and the packing is
    a pure function of (doc_id, tokens) — independent of the input's
    physical partitioning. (More shards = more window parallelism; the
    per-shard greedy fill stays budget-correct at P=4 and P=32.)"""
    from pyspark.sql import functions as F

    from ocr_spark.operators.corpus import pack_sequences, quality_flags

    from pyspark.sql import Window

    budget = 500
    docs = quality_flags(_docs(spark))
    n_in = docs.count()
    for p in (4, 32):
        packed = pack_sequences(docs, budget, num_shards=p)
        assert packed.count() == n_in  # packing never drops or dups docs
        assert (
            packed.agg(F.count_distinct("pack_shard")).collect()[0][0] <= p
        )
        # tokens-before-this-doc of every row lies inside its seq's window
        w_ok = packed.withColumn(
            "_before",
            F.sum("n_words").over(
                Window.partitionBy("pack_shard").orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ) - F.col("n_words"),
        ).filter(
            (F.col("_before") < F.col("seq_id") * budget)
            | (F.col("_before") >= (F.col("seq_id") + 1) * budget)
        )
        assert w_ok.count() == 0
    # determinism across physical partitionings of the same input
    a = {
        (r["doc_id"], r["pack_shard"], r["seq_id"])
        for r in pack_sequences(docs.repartition(1), budget).select(
            "doc_id", "pack_shard", "seq_id").collect()
    }
    b = {
        (r["doc_id"], r["pack_shard"], r["seq_id"])
        for r in pack_sequences(docs.repartition(17), budget).select(
            "doc_id", "pack_shard", "seq_id").collect()
    }
    assert a == b


def test_corpus_job_end_to_end(spark, tmp_path):
    """Production-width job over synthetic extracted pages: funnel report
    written, kept corpus readable, counts self-consistent, rerun
    byte-stable."""
    from scripts.corpus_job import run_corpus_job

    rep = run_corpus_job(spark, str(tmp_path), n_pages=600, budget=512)
    assert rep["funnel"]["0_input"] == 600
    assert rep["kept_rows"] == rep["funnel"]["6_sampled"] > 0
    assert rep["kept_tokens"] > 0 and rep["sequences"] > 0
    on_disk = json.loads((tmp_path / "funnel.json").read_text())
    assert on_disk["funnel"] == rep["funnel"]

    ids = lambda df: {r["doc_id"] for r in df.select("doc_id").collect()}
    kept = spark.read.parquet(rep["out"])
    assert kept.count() == rep["kept_rows"]
    # snapshot the ids BEFORE the rerun overwrites the parquet dir (the
    # first DataFrame's file listing would dangle otherwise)
    ids1 = ids(kept)

    # pages_location path: the same pages via parquet must yield the same
    # funnel and kept set (read_pages integration)
    from ocr_spark.gen import corpus_pages

    src = str(tmp_path / "pages_src")
    corpus_pages(spark, 600).write.parquet(src)
    rep_loc = run_corpus_job(
        spark, str(tmp_path / "loc"), budget=512, pages_location=src
    )
    assert rep_loc["funnel"] == rep["funnel"]
    assert ids(spark.read.parquet(rep_loc["out"])) == ids1

    # deterministic rerun: same kept doc_ids
    rep2 = run_corpus_job(spark, str(tmp_path), n_pages=600, budget=512)
    assert rep2["funnel"] == rep["funnel"]
    assert ids1 == ids(spark.read.parquet(rep2["out"]))


def test_corpus_job_substr_clean_flag(spark, tmp_path):
    """--substr-clean end-to-end: the 4b stage appears in the funnel, edits
    text without dropping docs, and the job stays self-consistent."""
    from scripts.corpus_job import run_corpus_job

    rep = run_corpus_job(
        spark, str(tmp_path), n_pages=400, budget=512, substr_clean=True
    )
    assert rep["minhash"]["substr_clean"] is True
    f = rep["funnel"]
    assert "4b_substr" in f
    # the stage edits text but never drops a doc
    assert f["4b_substr"] == f["4_near"]
    # funnel stays monotone through the new stage
    order = ["1_train", "2_quality", "3_exact", "4_near", "4b_substr",
             "5_clean", "6_sampled"]
    counts = [f[k] for k in order]
    assert counts == sorted(counts, reverse=True)
    assert rep["kept_rows"] > 0 and rep["kept_tokens"] > 0


def test_funnel_host_gate_and_line_dedup_stages(spark):
    """The opt-in block-3 stages compose into the funnel in the documented
    order and equal direct application of their operators."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.corpus import (
        drop_common_lines,
        funnel_stages,
        host_keepers,
    )

    docs = _docs(spark)
    stages = funnel_stages(docs, host_gate=True, line_dedup=True)
    keys = list(stages)
    assert keys.index("1b_host") == keys.index("1_train") + 1
    assert keys.index("1c_lines") == keys.index("1b_host") + 1

    train = stages["1_train"]
    # 1b_host == host_keepers(train) exactly (same kept ids)
    want_ids = {r.doc_id for r in host_keepers(train).select("doc_id").collect()}
    got_ids = {r.doc_id for r in stages["1b_host"].select("doc_id").collect()}
    assert got_ids == want_ids
    # the gate actually gated at sf0.01 (some sources dropped, some kept)
    all_src = {r.source for r in train.select("source").distinct().collect()}
    kept_src = {
        r.source for r in stages["1b_host"].select("source").distinct().collect()
    }
    assert 0 < len(kept_src) < len(all_src)

    # 1c_lines: same rows as 1b_host, text rewritten per drop_common_lines
    want_text = {
        r.doc_id: r.text
        for r in drop_common_lines(stages["1b_host"]).select(
            "doc_id", "text"
        ).collect()
    }
    got = {r.doc_id: r.text for r in stages["1c_lines"].collect()}
    assert got == want_text

    # downstream stages operate on the rewritten text: every kept doc's
    # text must be one of the rewritten texts
    q_ids = {r.doc_id for r in stages["2_quality"].select("doc_id").collect()}
    assert q_ids <= set(got)


def test_corpus_job_host_gate_line_dedup_flags(spark, tmp_path):
    """e2e: the job runs with both new flags and reports the new stages."""
    from scripts.corpus_job import run_corpus_job

    rep = run_corpus_job(
        spark, str(tmp_path / "corpus"), n_pages=400, budget=256,
        host_gate=True, line_dedup=True,
    )
    assert rep["host_gate"] and rep["line_dedup"]
    f = rep["funnel"]
    assert "1b_host" in f and "1c_lines" in f
    assert f["1b_host"] <= f["1_train"]
    assert f["1c_lines"] == f["1b_host"]  # rewrite, not filter
    assert f["2_quality"] <= f["1c_lines"]
    assert rep["kept_rows"] >= 0


def test_systematic_sample_budget_and_invariance(spark):
    """pipe_sample_systematic: per-bucket kept count equals the number of
    stride multiples the bucket's total weight crosses (cum_max DIV T —
    the +-0 budget law Bernoulli sampling can't give); any doc at least
    one stride long is always kept; and the kept set is a pure function
    of the data (two runs agree row-for-row)."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from ocr_spark.queries import QUERIES, t
    from ocr_spark.queries_pipeline import _SAMPLE_STRIDE, _SYS_BKT_SPARK
    import ocr_spark.queries_pipeline  # noqa: F401

    sf = "/root/testdata/sf0.01"
    rows = QUERIES["pipe_sample_systematic"](spark, sf).collect()

    # budget law: per bucket, kept == bucket_total DIV stride
    per_bucket = defaultdict(int)
    for r in rows:
        per_bucket[r["bucket"]] += 1
    totals = {
        r["bucket"]: r["tot"]
        for r in t(spark, sf, "documents")
        .groupBy(F.expr(_SYS_BKT_SPARK).alias("bucket"))
        .agg(F.sum("n_chars").alias("tot"))
        .collect()
    }
    for b, tot in totals.items():
        assert per_bucket.get(b, 0) == tot // _SAMPLE_STRIDE, b

    # long-doc law: every doc spanning >= one stride is kept
    big = (
        t(spark, sf, "documents")
        .filter(F.col("n_chars") >= _SAMPLE_STRIDE)
        .count()
    )
    assert sum(1 for r in rows if r["n_chars"] >= _SAMPLE_STRIDE) == big

    # determinism: a second evaluation keeps the identical doc_id set
    ids2 = sorted(
        r["doc_id"]
        for r in QUERIES["pipe_sample_systematic"](spark, sf).collect()
    )
    assert sorted(r["doc_id"] for r in rows) == ids2


def test_reservoir_sample_aes_reference_and_merge_law(spark):
    """pipe_sample_reservoir: the kept set equals an independent pure-
    Python A-ES reference (hashlib md5, max-of-w-draws priorities); it is
    invariant to input partitioning (the per-partition-top-K + merge law
    a distributed reservoir rests on); and it is weight-biased — the mean
    draw-weight of kept docs exceeds the corpus mean."""
    import hashlib

    import pyspark.sql.functions as F

    from ocr_spark.queries import QUERIES, t
    from ocr_spark.queries_pipeline import _RES_CAP, _RES_K
    import ocr_spark.queries_pipeline  # noqa: F401

    sf = "/root/testdata/sf0.01"
    rows = QUERIES["pipe_sample_reservoir"](spark, sf).collect()
    assert len(rows) == _RES_K

    # pure-Python A-ES reference over the same corpus
    corpus = t(spark, sf, "documents").select("doc_id", "n_chars").collect()

    def prio(doc_id: int, n_chars: int) -> int:
        w = min(1 + n_chars // 256, _RES_CAP)
        return max(
            int(hashlib.md5(f"{doc_id}#{j}".encode()).hexdigest()[:13], 16)
            for j in range(1, w + 1)
        )

    ref = sorted(
        ((prio(r["doc_id"], r["n_chars"]), -r["doc_id"]) for r in corpus),
        reverse=True,
    )[:_RES_K]
    ref_ids = sorted(-d for _, d in ref)
    assert sorted(r["doc_id"] for r in rows) == ref_ids
    for r in rows:
        assert r["priority"] == prio(r["doc_id"], r["n_chars"])

    # merge law: the kept set is partitioning-invariant
    docs = t(spark, sf, "documents")
    for parts in (1, 16):
        d = docs.repartition(parts).select(
            "doc_id",
            "n_chars",
            F.expr(
                "CAST(least(1 + n_chars DIV 256, "
                f"{_RES_CAP}) AS BIGINT)"
            ).alias("w"),
        )
        from ocr_spark.queries_pipeline import _RES_DRAW_SPARK

        pri = d.select(
            "doc_id",
            F.expr(
                "array_max(transform(sequence(1, CAST(w AS INT)),"
                f" j -> {_RES_DRAW_SPARK}))"
            ).alias("priority"),
        )
        got = sorted(
            r["doc_id"]
            for r in pri.orderBy(
                F.desc("priority"), "doc_id"
            ).limit(_RES_K).collect()
        )
        assert got == ref_ids, parts

    # weight bias: kept docs are longer-than-average in draw weight
    def w_of(n: int) -> int:
        return min(1 + n // 256, _RES_CAP)

    corpus_mean = sum(w_of(r["n_chars"]) for r in corpus) / len(corpus)
    kept_mean = sum(w_of(r["n_chars"]) for r in rows) / len(rows)
    assert kept_mean > corpus_mean


def test_dataset_card_python_reference(spark):
    """profile_dataset_card equals a pure-Python replay of every
    datasheet statistic."""
    import hashlib
    from collections import Counter

    from ocr_spark.queries import QUERIES, t
    import ocr_spark.queries_pipeline  # noqa: F401

    sf = "/root/testdata/sf0.01"
    row = QUERIES["profile_dataset_card"](spark, sf).collect()[0]
    docs = t(spark, sf, "documents").collect()
    n = len(docs)
    src = Counter(d["source"] for d in docs)
    lng = Counter(d["lang"] for d in docs)
    n_distinct = len({hashlib.md5(d["text"].encode()).hexdigest() for d in docs})
    chars = sum(d["n_chars"] for d in docs)
    toks = sum(len([w for w in d["text"].split(" ") if w]) for d in docs)
    sumsq = sum(c * c for c in src.values())
    assert (
        row["n_docs"], row["n_sources"], row["n_langs"],
        row["n_chars_total"], row["n_tokens_total"], row["mean_chars"],
        row["dup_rate_e6"], row["simpson_diversity_e6"],
        row["top_source"], row["top_lang"],
    ) == (
        n, len(src), len(lng), chars, toks, chars // n,
        (n - n_distinct) * 1_000_000 // n,
        1_000_000 - sumsq * 1_000_000 // (n * n),
        min(s for s, c in src.items() if c == max(src.values())),
        min(s for s, c in lng.items() if c == max(lng.values())),
    )


def test_ffd_packing_reference_capacity_and_quality(spark):
    """pack_sequences_ffd: equals an independent Python FFD replay per
    shard; every bin respects the budget unless it holds exactly one
    oversized doc; the assignment is partitioning-invariant; and on the
    driver corpus FFD uses no more bins than the window packer's
    sequence count on the same shards."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from ocr_spark.operators.corpus import pack_sequences, pack_sequences_ffd
    from ocr_spark.queries import t

    sf = "/root/testdata/sf0.01"
    budget = 512
    d = t(spark, sf, "documents").select(
        "doc_id",
        F.expr("size(filter(split(text, ' '), x -> x != ''))").alias(
            "n_words"
        ),
    )
    rows = pack_sequences_ffd(d, budget=budget, num_shards=16).collect()
    toks = {r["doc_id"]: r["n_tokens"] for r in rows}

    # python FFD replay per shard (shard keys read back from the run:
    # xxhash64 is engine-side, the FFD logic is what this replays)
    shards = defaultdict(list)
    shard_of = {
        r["doc_id"]: r["pack_shard"] for r in rows
    }
    for r in d.collect():
        shards[shard_of[r["doc_id"]]].append((r["n_words"], r["doc_id"]))
    want = {}
    for sh, docs in shards.items():
        loads = []
        for tok, did in sorted(docs, key=lambda x: (-x[0], x[1])):
            placed = None
            for b, ld in enumerate(loads):
                if ld + tok <= budget:
                    placed = b
                    break
            if placed is None:
                placed = len(loads)
                loads.append(0)
            loads[placed] += tok
            want[did] = (sh, placed)
    assert {
        r["doc_id"]: (r["pack_shard"], r["bin_id"]) for r in rows
    } == want

    # capacity law
    bin_load = defaultdict(int)
    bin_count = defaultdict(int)
    for r in rows:
        k = (r["pack_shard"], r["bin_id"])
        bin_load[k] += r["n_tokens"]
        bin_count[k] += 1
    for k, load in bin_load.items():
        assert load <= 512 or bin_count[k] == 1, k

    # partitioning invariance
    again = {
        r["doc_id"]: (r["pack_shard"], r["bin_id"])
        for r in pack_sequences_ffd(
            d.repartition(13), budget=budget, num_shards=16
        ).collect()
    }
    assert again == want

    # quality vs the window packer on the same corpus (both use the
    # hashed shard key; seq_id count vs bin count per shard)
    win = pack_sequences(d, budget=budget, num_shards=16).collect()
    win_seqs = len({(r["pack_shard"], r["seq_id"]) for r in win})
    ffd_bins = len(bin_load)
    assert ffd_bins <= win_seqs + 16  # never materially worse
