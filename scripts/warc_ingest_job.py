"""Archive ingest: WARC files → the pages table the whole engine runs on.

Usage (same launch mode as extract_job.py)::

    zip -qr engine.zip ocr_spark
    spark-submit --master <cluster> --py-files engine.zip \\
        scripts/warc_ingest_job.py <out_dir> [n_pages] [warc_dir]

With no ``warc_dir`` the job is self-contained: it synthesizes ``n_pages``
deterministic pages (ocr_spark.gen.web_pages — no external data), writes
them as real ``.warc.gz`` archive files (one gzip member per record) under
``<out_dir>/archive``, then ingests its own archive — which turns the run
into a full round-trip integrity check: every (url, payload-md5) recovered
from the archive must equal the generated table, and the job fails loudly
if even one record framed, compressed, split, or sliced wrong.

With a ``warc_dir`` it ingests existing archives (plain ``.warc`` or
member-framed ``.warc.gz``) and skips the round-trip check.

Output: ``<out_dir>/pages`` in the engine's pages-table shape
(url, warc_ts, html, text=NULL, lang=NULL) via tables.write_table. Prints
one JSON line with stage seconds and row counts.

Scale: ingest is shuffle-free — binaryFile assigns whole archive files to
tasks and the record splitter is one narrow mapInArrow hop (sources/warc).
The only exchange in the whole job is the synth-mode archive WRITE
(groupBy shard), a harness cost real crawls never pay.
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def run_warc_ingest_job(
    spark,
    out_dir: str,
    n_pages: int = 20000,
    warc_dir: str | None = None,
    num_files: int = 16,
    pages_df=None,
) -> dict:
    """``pages_df`` (optional, synth mode only): archive THIS pages frame
    (url, warc_ts, html) instead of gen.web_pages — e.g. the corpus-funnel
    generator when composing crawl->corpus (scripts/pipeline_job.py)."""
    from pyspark.sql import functions as F

    from ocr_spark.gen import web_pages
    from ocr_spark.sources import warc
    from ocr_spark.tables import write_table

    stage_sec: dict[str, float] = {}
    t0 = time.perf_counter()
    out = pathlib.Path(out_dir)
    synth = warc_dir is None

    expected = None
    if synth:
        ts = time.perf_counter()
        warc_dir = str(out / "archive")
        src = pages_df if pages_df is not None else web_pages(spark, n_pages)
        gen = src.select(
            "url",
            F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
            .alias("warc_date"),
            "html",
        )
        n_files = warc.write_warc(gen, warc_dir, num_files=num_files,
                                  gzip_members=True)
        stage_sec["write_archive"] = round(time.perf_counter() - ts, 3)
        # the archive frames NULL html as an empty body (sources/warc):
        # mirror that in the expectation so the digest check stays exact
        expected = {
            (r["url"], r["d"])
            for r in gen.select(
                "url",
                F.md5(F.coalesce("html", F.lit(b""))).alias("d"),
            ).collect()
        }
    else:
        n_files = len(list(pathlib.Path(warc_dir).glob("*.warc*")))

    ts = time.perf_counter()
    pages = warc.read_warc(spark, warc_dir).select(
        "url", "warc_ts", "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
    pages_path = str(out / "pages")
    write_table(pages, pages_path, mode="create")
    stage_sec["ingest"] = round(time.perf_counter() - ts, 3)

    back = spark.read.parquet(pages_path)
    n_rows = back.count()
    roundtrip_ok = None
    if expected is not None:
        got = {
            (r["url"], r["d"])
            for r in back.select("url", F.md5("html").alias("d")).collect()
        }
        roundtrip_ok = got == expected
        if not roundtrip_ok:
            raise RuntimeError(
                f"archive round-trip mismatch: {len(expected - got)} lost, "
                f"{len(got - expected)} corrupt"
            )

    wall = time.perf_counter() - t0
    return {
        "n_rows": n_rows,
        "n_archive_files": n_files,
        "roundtrip_ok": roundtrip_ok,
        "stage_sec": stage_sec,
        "wall_sec": round(wall, 3),
        "pages_per_sec": round(n_rows / wall, 1) if wall > 0 else None,
    }


def main() -> None:
    from ocr_spark.session import build_session

    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/warc_ingest"
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
    warc_dir = sys.argv[3] if len(sys.argv) > 3 else None
    spark = build_session(app_name="warc-ingest")
    try:
        print(json.dumps(run_warc_ingest_job(spark, out_dir, n_pages,
                                             warc_dir)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
