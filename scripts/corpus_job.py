"""Integrated corpus-preparation run: pages -> extraction -> quality filter
-> exact dedup -> MinHash near-dedup (production width) -> benchmark-
contamination screen -> stratified sample -> token-budget packing, writing
the kept corpus plus a funnel report.

Usage (same launch mode as extract_job.py)::

    zip -qr engine.zip ocr_spark
    spark-submit --master <cluster> --py-files engine.zip \\
        scripts/corpus_job.py <out_dir> [n_pages] [budget] [pages_location] \\
        [--full-cc] [--substr-clean] [--host-gate] [--line-dedup] \\
        [--export-jsonl]

``--full-cc`` upgrades near-dedup clustering from the one-round star pass
to full connected components (fixpoint label propagation over the
doc–bucket graph, ocr_spark/functions/graph.py). ``--substr-clean`` adds a
within-doc exact-substring deletion stage after near-dedup (keep the
corpus-first occurrence of every duplicated >=16-char run,
ocr_spark/functions/substr.py). ``--host-gate`` drops every document of a
below-gate host BEFORE per-document work (RefinedWeb host curation;
per-host integer-mean stopword density >= corpus.HOST_Q_GATE_E4).
``--line-dedup`` rewrites documents with per-host common-line boilerplate
removed BEFORE dedup (CCNet order; corpus.drop_common_lines).
``--export-jsonl`` additionally writes the packed corpus as sharded
``.jsonl.gz`` training-export files (sources/textfmt.write_jsonl) with a
built-in read-back digest check (count + xxhash64 fold over the explicit
schema — serialization loss anywhere fails the report).

With no ``pages_location`` the job generates ``n_pages`` deterministic
synthetic pages (ocr_spark.gen.corpus_pages — a diversity-controlled
crawl with injected exact/near dups, quality rejects and benchmark
contamination; no external data); otherwise it reads the given
parquet pages table. Documents are keyed by
``xxhash64(url, warc_ts)`` and stage decisions are md5/integer-exact, so
the kept set is identical on every rerun, partition count and cluster
size. Prints one JSON line: per-stage funnel counts, wall/stage seconds,
kept-corpus rows/tokens/sequences and the output path.

The stage semantics are driver-graded at oracle width by the
``pipe_quality_filter`` / ``pipe_funnel`` registry queries
(ocr_spark/queries_pipeline.py); this job runs the same chain at the
production MinHash width (64 perms / 16 bands) with the two reused stages
persisted (see ocr_spark/operators/corpus.py).
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

PACK_BUDGET_DEFAULT = 2048


def run_corpus_job(
    spark,
    out_dir: str,
    n_pages: int = 20000,
    budget: int = PACK_BUDGET_DEFAULT,
    pages_location: str | None = None,
    full_cc: bool = False,
    substr_clean: bool = False,
    host_gate: bool = False,
    line_dedup: bool = False,
    lang_recover: bool = False,
    export_jsonl: bool = False,
    export_shards: int = 16,
) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark.gen import corpus_pages
    from ocr_spark.operators.corpus import (
        WEB_THRESHOLDS,
        funnel_stages,
        pack_sequences,
    )
    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.operators.runner import read_pages
    from ocr_spark.queries_textml import PROD_BANDS, PROD_NUM_PERMS

    stage_sec: dict[str, float] = {}
    t0 = time.perf_counter()

    pages = (
        read_pages(spark, pages_location)
        if pages_location
        else corpus_pages(spark, n_pages)
    )

    # extraction -> document table (url-keyed; doc_id = xxhash64(url, ts)
    # is deterministic and order-free, so every downstream md5/threshold
    # decision is reproducible across runs and cluster sizes)
    if lang_recover:
        # un-tagged crawl data (e.g. WARC-ingested pages carry lang=NULL):
        # language-recovering extraction — ONE parse, stopword-argmax
        # langid over the full block text, per-block density re-score
        # against the recovered list BEFORE classification (recovering
        # after extraction is too late: the blocks would already have been
        # classified against the DEFAULT_LANG list and non-default-lang
        # pages would extract empty). Pages carrying a tag are untouched.
        from ocr_spark.operators.extract import extract_pages_langid

        extracted = extract_pages_langid(pages)
    else:
        extracted = extract_pages(pages)
    docs = extracted.select(
        F.xxhash64("url", "warc_ts").alias("doc_id"),
        F.col("extracted_text").alias("text"),
        "lang",
        F.parse_url("url", F.lit("HOST")).alias("source"),
        "url",
        "warc_ts",
    )

    # Stage the extracted table ONCE (the runner's staged-input move):
    # filters can't push below the mapInArrow parse, and the funnel's
    # count-per-stage loop plus the final write would otherwise re-run
    # extraction ~7x over the full corpus — at 100 TB, seven parses.
    # One write + cheap parquet re-scans is the scale-correct shape.
    ts = time.perf_counter()
    docs_path = str(pathlib.Path(out_dir) / "docs")
    docs.write.mode("overwrite").parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    stage_sec["extract_stage"] = round(time.perf_counter() - ts, 3)

    stages = funnel_stages(
        docs,
        num_perms=PROD_NUM_PERMS,
        bands=PROD_BANDS,
        persist=True,
        th=WEB_THRESHOLDS,
        # --full-cc: near-dedup clusters are TRUE connected components
        # (fixpoint label propagation, functions/graph.py) instead of the
        # one-round star pass — a few extra linear rounds, no plan blow-up
        full_cc=full_cc,
        # --substr-clean: within-doc exact-substring deletion after
        # near-dedup (keep the corpus-first occurrence of every
        # duplicated >=16-char run; functions/substr.py)
        substr_clean=substr_clean,
        # --host-gate / --line-dedup: host-level curation before the
        # per-document funnel (RefinedWeb / CCNet order; see corpus.py)
        host_gate=host_gate,
        line_dedup=line_dedup,
    )

    # one pass per funnel stage count; the persisted stages ("3_exact",
    # "4_near") cut the recomputation chain so each count reuses the
    # heaviest prefix instead of re-parsing the corpus
    funnel: dict[str, int] = {}
    for name, df in stages.items():
        ts = time.perf_counter()
        funnel[name] = df.count()
        stage_sec[name] = round(time.perf_counter() - ts, 3)

    ts = time.perf_counter()
    # default hashed shard (pmod(xxhash64(doc_id), 64)): packing
    # parallelism is 64 window tasks regardless of how few `source`
    # values the corpus has — a source-keyed window caps at
    # count(distinct source) tasks at any cluster size
    kept = pack_sequences(stages["6_sampled"], budget)
    out_path = str(pathlib.Path(out_dir) / "corpus")
    # seq_id is a per-shard ordinal, so the sequence identity is
    # (pack_shard, seq_id) — partition the layout by both. And repartition
    # ON the partition columns before the partitionBy write: otherwise
    # every write task emits a file into every dir it holds rows for —
    # tasks x dirs tiny files. Clustered, each sequence dir gets one file.
    kept.select(
        "doc_id", "url", "warc_ts", "lang", "source", "n_words",
        "pack_shard", "seq_id", "text",
    ).repartition("pack_shard", "seq_id").write.mode(
        "overwrite"
    ).partitionBy("pack_shard", "seq_id").parquet(out_path)
    stage_sec["pack_write"] = round(time.perf_counter() - ts, 3)

    ts = time.perf_counter()
    if funnel.get("6_sampled", 0) > 0:
        final = spark.read.parquet(out_path).agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum("n_words"), F.lit(0)).alias("tokens"),
            F.count_distinct("seq_id", "pack_shard").alias("sequences"),
        ).collect()[0]
    else:
        # every document filtered out: the partitioned write emitted only
        # _SUCCESS (no schema to infer) — report zeros instead of crashing
        # the whole run at the final read-back
        final = {"rows": 0, "tokens": 0, "sequences": 0}
    stage_sec["readback"] = round(time.perf_counter() - ts, 3)

    export: dict | None = None
    if export_jsonl and funnel.get("6_sampled", 0) > 0:
        # training-export handoff: the packed corpus as sharded .jsonl.gz
        # (sources/textfmt.write_jsonl — gzip shards are the downstream
        # loader's unit of read parallelism, so the shard count is an
        # explicit knob, not an upstream-partitioning accident) plus a
        # round-trip digest: read back with the EXPLICIT schema and fold
        # count + xxhash64(text)-sum — a dropped/duplicated/mangled row
        # anywhere in the serialize/deserialize path breaks the digest.
        from ocr_spark.sources import textfmt

        ts = time.perf_counter()
        packed = spark.read.parquet(out_path).select(
            "doc_id", "url", "warc_ts", "lang", "source", "n_words",
            "pack_shard", "seq_id", "text",
        )
        export_path = str(pathlib.Path(out_dir) / "export")
        textfmt.write_jsonl(packed, export_path, num_shards=export_shards)

        def digest(df):
            # xor fold: order-independent like SUM but can't overflow
            # int64 under ANSI mode
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.expr("bit_xor(xxhash64(doc_id, text, seq_id))"),
                    F.lit(0),
                ).alias("h"),
            ).collect()[0]
            return int(row["n"]), int(row["h"])

        back = textfmt.read_jsonl(spark, export_path, packed.schema)
        export = {
            "path": export_path,
            "shards": export_shards,
            "roundtrip_ok": digest(packed) == digest(back),
        }
        stage_sec["export_jsonl"] = round(time.perf_counter() - ts, 3)

    for key in ("3_exact", "4_near", "4b_substr", "5_clean"):
        if key in stages:
            stages[key].unpersist()

    report = {
        "out": out_path,
        "funnel": funnel,
        "kept_rows": int(final["rows"]),
        "kept_tokens": int(final["tokens"]),
        "sequences": int(final["sequences"]),
        "budget": budget,
        "minhash": {
            "num_perms": PROD_NUM_PERMS,
            "bands": PROD_BANDS,
            "full_cc": full_cc,
            "substr_clean": substr_clean,
        },
        "host_gate": host_gate,
        "line_dedup": line_dedup,
        "export": export,
        "stage_sec": stage_sec,
        "wall_sec": round(time.perf_counter() - t0, 3),
    }
    (pathlib.Path(out_dir) / "funnel.json").write_text(
        json.dumps(report, indent=2)
    )
    return report


def main() -> None:
    flags = {"--full-cc", "--substr-clean", "--host-gate", "--line-dedup",
             "--export-jsonl"}
    argv = [a for a in sys.argv[1:] if a not in flags]
    full_cc = "--full-cc" in sys.argv[1:]
    substr_clean = "--substr-clean" in sys.argv[1:]
    host_gate = "--host-gate" in sys.argv[1:]
    line_dedup = "--line-dedup" in sys.argv[1:]
    export_jsonl = "--export-jsonl" in sys.argv[1:]
    if not argv:
        print(__doc__)
        sys.exit(2)
    out_dir = argv[0]
    n_pages = int(argv[1]) if len(argv) > 1 else 20000
    budget = int(argv[2]) if len(argv) > 2 else PACK_BUDGET_DEFAULT
    pages_location = argv[3] if len(argv) > 3 else None

    from ocr_spark.session import build_session

    spark = build_session(app_name="ocr-spark-corpus")
    try:
        print(json.dumps(run_corpus_job(
            spark, out_dir, n_pages, budget, pages_location, full_cc,
            substr_clean, host_gate, line_dedup,
            export_jsonl=export_jsonl,
        )))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
