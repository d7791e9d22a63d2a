"""The benchmark workloads and the traced layer table.

A workload prepares its seeded input outside the timed window, then runs
one job per ``run`` call; ``check`` compares the job's output with a
reference outside the timed window. ``layers`` runs the traced layer
table and leaves the outcome of any output check it makes in
``layer_checks``. ``persisted`` is the number of persisted RDDs the
workload itself keeps (its cached input): any other persisted RDD found
before a timed job is a leak and fails that job.

Why each workload exists, and which layer it stresses, is in README.md.
"""

from __future__ import annotations

import pathlib
import shutil

from perfbench import pages

# html_blocks sample parsed single-threaded in the benchmark process
HTML_SAMPLE = 1000
HTML_REPS = 3
# repetitions of each Spark job of the extract layer table
LAYER_REPS = 2


def noop(df) -> None:
    """Materialize every column of ``df`` on the executors, collect nothing."""
    df.write.format("noop").mode("overwrite").save()


def identity_batches(batches):
    """mapInArrow body that returns its input: the bare Arrow hop."""
    yield from batches


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _require_persisted(spark, expected: int, before: str) -> None:
    found = persisted_rdds(spark)
    if found != expected:
        raise RuntimeError(
            f"{found} persisted RDDs before {before}, expected {expected}"
        )


def extract_layers(spark, tracer, pages_df, held: int) -> dict[str, float]:
    """``operators.extract`` layer by layer over the cached ``pages_df``.

    Every job writes to the noop sink. The label and assemble steps run
    over a cached parse (and a cached labelling), so each times its own
    step only. Those caches are made after the scan/hop/parse/full jobs
    and dropped before returning: Spark's cache manager would otherwise
    serve a later identical parse plan from them. ``held`` is the number
    of persisted RDDs the caller keeps (the cached input).
    """
    from ocr_spark.operators.extract import (
        assemble,
        extract_pages,
        label_blocks,
        parse_pages,
        with_part_id,
    )

    parse_in = with_part_id(pages_df).select(
        "url", "warc_ts", "lang", "part_id", "html"
    )
    jobs = [
        ("extract.scan_s", lambda: noop(pages_df), held),
        (
            "extract.arrow_hop_s",
            lambda: noop(
                parse_in.mapInArrow(identity_batches, parse_in.schema)
            ),
            held,
        ),
        ("extract.parse_pages_s", lambda: noop(parse_pages(pages_df)), held),
        ("extract.full_s", lambda: noop(extract_pages(pages_df)), held),
    ]
    parsed = labeled = None
    try:
        for name, fn, expect in jobs:
            for _ in range(LAYER_REPS):
                _require_persisted(spark, expect, name)
                with tracer.span(name):
                    fn()
        parsed = parse_pages(pages_df).persist()
        parsed.count()
        for _ in range(LAYER_REPS):
            _require_persisted(spark, held + 1, "extract.label_blocks_s")
            with tracer.span("extract.label_blocks_s"):
                noop(label_blocks(parsed))
        labeled = label_blocks(parsed).persist()
        labeled.count()
        for _ in range(LAYER_REPS):
            _require_persisted(spark, held + 2, "extract.assemble_s")
            with tracer.span("extract.assemble_s"):
                noop(assemble(labeled))
    finally:
        for df in (labeled, parsed):
            if df is not None:
                df.unpersist(blocking=True)
    _require_persisted(spark, held, "the end of the layer table")
    names = [j[0] for j in jobs] + [
        "extract.label_blocks_s", "extract.assemble_s",
    ]
    return {n: tracer.median(n) for n in names}


def html_blocks_layer(tracer, sample: list[tuple]) -> dict[str, float]:
    """``html_blocks`` single-threaded over ``sample`` ((html, lang)
    pairs): the production columnar parse, the slow tokenizer alone, and
    the work counts that identify the workload's shape."""
    from ocr_spark.html_blocks import parse_batch_columnar, parse_payload
    from ocr_spark.session import ARROW_BATCH

    htmls = [h for h, _ in sample]
    langs = [lg for _, lg in sample]
    counts = (0, 0, 0)
    for _ in range(HTML_REPS):
        n_blocks = n_links = n_cells = 0
        with tracer.span("html_blocks.parse"):
            for i in range(0, len(sample), ARROW_BATCH):
                out = parse_batch_columnar(
                    htmls[i:i + ARROW_BATCH], langs[i:i + ARROW_BATCH]
                )
                n_blocks += out[1][-1]
                n_links += out[4][-1]
                n_cells += out[8][-1]
        counts = (n_blocks, n_links, n_cells)
    for _ in range(HTML_REPS):
        with tracer.span("html_blocks.slow_parse"):
            for html, lang in sample:
                parse_payload(html, lang, force_slow=True)
    n = len(sample)
    fast = n / tracer.median("html_blocks.parse")
    slow = n / tracer.median("html_blocks.slow_parse")
    return {
        "html_blocks.parse_docs_per_s": fast,
        "html_blocks.slow_parse_docs_per_s": slow,
        "html_blocks.fast_gain": fast / slow,
        "html_blocks.sample_docs": float(n),
        "html_blocks.blocks_per_doc": counts[0] / n,
        "html_blocks.links_per_doc": counts[1] / n,
        "html_blocks.cells_per_doc": counts[2] / n,
    }


RUNNER_LAYERS = (
    "runner.stage_s", "runner.parse_write_s", "runner.readback_s",
    "runner.lineage_s", "runner.manifest_s", "runner.output_files",
    "runner.output_mb", "runner.staged_mb",
)
CORPUS_LAYERS = (
    "corpus.extract_stage_s", "corpus.quality_s", "corpus.exact_s",
    "corpus.near_s", "corpus.clean_s", "corpus.pack_write_s",
    "corpus.readback_s", "corpus.kept_frac",
)


def _absent(names) -> dict[str, float]:
    """A layer the workload never calls: it spends no time and does no
    work there."""
    return dict.fromkeys(names, 0.0)


def _tree_files(root: pathlib.Path, suffix: str = "") -> list[pathlib.Path]:
    return [
        p for p in root.rglob(f"*{suffix}")
        if p.is_file() and not p.name.startswith(".")
    ]


class ExtractMixed:
    """``extract_pages`` over every page shape the fixtures know, plus
    MAX_BLOCKS link farms, cached in memory; the job reduces the output to
    an order-insensitive digest."""

    name = "extract_mixed"
    FAMILY_COPIES = 16
    N_TEMPLATE = 1200
    N_MAXBLOCKS = 128
    # wall and CPU per job fall steeply over the first four jobs and
    # slowly after, while the JVM compiles the per-job planning and
    # codegen path (see README.md); a window that began earlier would
    # hold fewer, colder jobs on a slower host
    warmups = 4
    persisted = 1
    layer_checks: tuple[bool, ...] = ()

    def prepare(self, ctx) -> None:
        self.parts = pages.mixed_pages(
            ctx.seed, self.FAMILY_COPIES, self.N_TEMPLATE, self.N_MAXBLOCKS,
            ctx.nproc,
        )
        self.docs = sum(len(p) for p in self.parts)
        self.ref = pages.reference(ctx.spark, [
            (r["url"], r["warc_ts"], r["html"], r["lang"])
            for part in self.parts for r in part
        ], ctx.nproc)
        self.reload(ctx)

    def reload(self, ctx) -> None:
        """Cache the input in the current session, one partition per
        dealt part."""
        from ocr_spark.schemas import PAGES_SCHEMA

        rows = [r for part in self.parts for r in part]
        rdd = ctx.spark.sparkContext.parallelize(rows, len(self.parts))
        self.df = ctx.spark.createDataFrame(rdd, PAGES_SCHEMA).cache()
        self.df.count()

    def run(self, ctx):
        from ocr_spark.operators.extract import extract_pages

        return pages.digest(extract_pages(self.df))

    def check(self, ctx, got) -> bool:
        return got == self.ref["digest"]

    def sample(self, ctx) -> list[tuple]:
        k = HTML_SAMPLE // len(self.parts)
        return [(r["html"], r["lang"]) for p in self.parts for r in p[:k]]

    def layers(self, ctx) -> dict[str, float]:
        return {
            **extract_layers(ctx.spark, ctx.tracer, self.df, self.persisted),
            **_absent(RUNNER_LAYERS),
            **_absent(CORPUS_LAYERS),
        }


def _write_pages(ctx, df, name: str) -> str:
    """Write a generated pages table under the run's work dir."""
    path = str(ctx.work / name)
    df.repartition(ctx.nproc).write.parquet(path)
    return path


def _read_pages(ctx, path: str):
    from ocr_spark.operators.runner import read_pages

    return read_pages(ctx.spark, path)


class ExtractUniform:
    """``extract_pages`` over ``gen.bench_pages``-shaped pages (one
    template, 2% PDF, 1% NULL html, 1% bad UTF-8), written to parquet at
    setup and cached in memory; the job reduces the output to an
    order-insensitive digest."""

    name = "extract_uniform"
    N_DOCS = 16000
    # as for extract_mixed: the first job takes ~1.8x the wall of a
    # warm one, and CPU per job keeps falling over the next three
    warmups = 4
    persisted = 1
    layer_checks: tuple[bool, ...] = ()

    def prepare(self, ctx) -> None:
        self.docs = self.N_DOCS
        self.pages_dir = _write_pages(
            ctx, pages.uniform_pages(ctx.spark, self.N_DOCS, ctx.seed),
            "pages",
        )
        rows = _read_pages(ctx, self.pages_dir).select(
            "url", "warc_ts", "html", "lang"
        ).collect()
        self.ref = pages.reference(ctx.spark, [tuple(r) for r in rows],
                                   ctx.nproc)
        self.reload(ctx)

    def reload(self, ctx) -> None:
        """Cache the input in the current session."""
        self.df = _read_pages(ctx, self.pages_dir).cache()
        self.df.count()

    def run(self, ctx):
        from ocr_spark.operators.extract import extract_pages

        return pages.digest(extract_pages(self.df))

    def check(self, ctx, got) -> bool:
        return got == self.ref["digest"]

    def sample(self, ctx) -> list[tuple]:
        rows = _read_pages(ctx, self.pages_dir).select(
            "html", "lang"
        ).limit(HTML_SAMPLE).collect()
        return [(r["html"], r["lang"]) for r in rows]

    def layers(self, ctx) -> dict[str, float]:
        table = extract_layers(ctx.spark, ctx.tracer, self.df, self.persisted)
        # the runner and the corpus job persist internally and expect
        # nothing else persisted
        self.df.unpersist(blocking=True)
        runner, runner_checks = RunnerLayer().measure(
            ctx, self.pages_dir, self.docs, self.ref
        )
        corpus, corpus_checks = CorpusFunnel().measure(ctx)
        self.layer_checks = tuple(runner_checks + corpus_checks)
        return {**table, **runner, **corpus}


class RunnerLayer:
    """``run_extract`` over a pages parquet table with both side products:
    staging, four batches, three partitioned zstd sinks, read-back,
    lineage and manifests.

    Not a workload of its own: its jobs cost 5-10 s here, mostly per-file
    and per-query fixed costs, and their wall and CPU time still fall
    after six jobs, so a window holds too few settled jobs to be steady.
    The traced ``extract_uniform`` run measures it as the ``runner.*``
    layer over that workload's pages. The first job warms the write
    path and the second is measured; both are checked."""

    NUM_PARTS = 16
    PARTS_PER_BATCH = 4
    RUNS = 2

    def measure(
        self, ctx, pages_dir: str, docs: int, ref: dict
    ) -> tuple[dict[str, float], list[bool]]:
        checks = []
        for k in range(self.RUNS):
            _require_persisted(ctx.spark, 0, "a runner job")
            with ctx.tracer.span("runner.job"):
                handle = self._run(ctx, pages_dir, k)
            metrics, ok = self._check(ctx, handle, docs, ref)
            checks.append(ok)
        return metrics, checks

    def _run(self, ctx, pages_dir: str, k: int):
        from ocr_spark.operators.runner import run_extract

        out = ctx.work / f"run{k}"
        staged: list[float] = []

        def staged_size(batch) -> None:
            if not staged:
                staged.append(sum(
                    p.stat().st_size
                    for p in _tree_files(out / "_staged", ".parquet")
                ))

        res = run_extract(
            ctx.spark,
            _read_pages(ctx, pages_dir),
            str(out),
            run_id=f"bench{k}",
            num_parts=self.NUM_PARTS,
            parts_per_batch=self.PARTS_PER_BATCH,
            links_location=str(out / "links"),
            meta_location=str(out / "meta"),
            after_batch=staged_size,
        )
        return out, res, staged

    def _check(
        self, ctx, handle, docs: int, ref: dict
    ) -> tuple[dict[str, float], bool]:
        """The job's ``runner.*`` metrics, and whether all manifests are
        committed, lineage rows match, the extracted digest equals the
        reference and the links and meta row counts match it."""
        from pyspark.sql import functions as F

        from ocr_spark.operators.runner import (
            Manifest,
            read_extracted,
            read_lineage,
        )

        out, res, staged = handle
        spark = ctx.spark
        try:
            committed = len(Manifest(out).completed_parts())
            lin = read_lineage(spark, str(out)).filter(
                F.col("status") == "ok"
            ).agg(
                F.sum("input_rows").alias("i"),
                F.sum("output_rows").alias("o"),
            ).collect()[0]
            n_links = spark.read.parquet(str(out / "links")).count()
            n_meta = spark.read.parquet(str(out / "meta")).count()
            got = pages.digest(read_extracted(spark, str(out)))
            files = [
                p for sink in ("data", "links", "meta")
                for p in _tree_files(out / sink, ".parquet")
            ]
            mb = 1024.0 * 1024.0
            metrics = {
                **{f"runner.{k}_s": float(v)
                   for k, v in res["stage_sec"].items()},
                "runner.output_files": float(len(files)),
                "runner.output_mb": sum(p.stat().st_size for p in files) / mb,
                "runner.staged_mb": (staged[0] / mb) if staged else 0.0,
            }
        finally:
            shutil.rmtree(out, ignore_errors=True)
        ok = (
            committed == self.NUM_PARTS
            and lin["i"] == lin["o"] == docs
            and got == ref["digest"]
            and n_links == ref["links"]
            and n_meta == docs
        )
        return {k: metrics[k] for k in RUNNER_LAYERS}, ok


class CorpusFunnel:
    """``run_corpus_job`` over seeded ``corpus_pages``: extraction, quality,
    exact dedup, 64-perm / 16-band MinHash near-dedup, contamination
    screen, sampling, packing.

    Not a workload of its own (a run needs a reference job and a
    measured job on top of setup, and the benchmark's time budget holds
    two workloads): the traced ``extract_uniform`` run measures it as the
    ``corpus.*`` layer. Its first job is the
    reference; the second, which is measured, must reproduce the
    per-stage counts and the kept-set digest."""

    N_DOCS = 1500

    def measure(self, ctx) -> tuple[dict[str, float], list[bool]]:
        import corpus_job

        pages_dir = _write_pages(
            ctx, pages.corpus_pages(ctx.spark, self.N_DOCS, ctx.seed),
            "corpus_pages",
        )
        outcomes = []
        for k in range(2):
            _require_persisted(ctx.spark, 0, "a corpus job")
            with ctx.tracer.span("corpus.job"):
                out = ctx.work / f"corpus{k}"
                rep = corpus_job.run_corpus_job(
                    ctx.spark, str(out), pages_location=pages_dir
                )
            outcomes.append(self._outcome(ctx, out, rep))
        st = rep["stage_sec"]
        metrics = {
            "corpus.extract_stage_s": st["extract_stage"],
            "corpus.quality_s": st["2_quality"],
            "corpus.exact_s": st["3_exact"],
            "corpus.near_s": st["4_near"],
            "corpus.clean_s": st["5_clean"],
            "corpus.pack_write_s": st["pack_write"],
            "corpus.readback_s": st["readback"],
            "corpus.kept_frac": rep["kept_rows"] / self.N_DOCS,
        }
        return metrics, [outcomes[1] == outcomes[0]]

    @staticmethod
    def _outcome(ctx, out: pathlib.Path, rep: dict) -> tuple:
        """Funnel counts, kept totals and the kept-set digest of one job."""
        from pyspark.sql import functions as F

        try:
            kept = ctx.spark.read.parquet(rep["out"]).agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.expr(
                    "bit_xor(xxhash64(doc_id, url, warc_ts, text,"
                    " pack_shard, seq_id))"
                ), F.lit(0)).alias("h"),
            ).collect()[0]
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return (
            rep["funnel"], rep["kept_rows"], rep["kept_tokens"],
            rep["sequences"], int(kept["n"]), int(kept["h"]),
        )


WORKLOADS = {w.name: w for w in (ExtractUniform, ExtractMixed)}
