"""Production entry point: resumable extraction via spark-submit.

Usage (the launch mode the north_rule mandates)::

    zip -qr engine.zip ocr_spark
    spark-submit --master <cluster> --py-files engine.zip \\
        scripts/extract_job.py <pages_location> <out_dir> <run_id> \\
        [num_parts] [parts_per_batch] [data_location] [--links] [--meta]

``pages_location`` is a parquet directory; ``data_location`` (optional)
sends the extracted DATA rows somewhere other than ``<out_dir>/data`` —
e.g. a ``snapshot:<dir>`` versioned table (ocr_spark.tables: atomic
per-batch commits, time travel, idempotent re-runs via overwrite_matching
— ocr_spark.tables_snapshot) — while the manifest (one
commit record per part, which is also the part's lineage row) stays in
out_dir. The job is idempotent per (out_dir): a killed run resumes at
partition granularity from the checkpoint manifest, and a completed
multi-batch run has read the raw input exactly once (staging — see
ocr_spark.operators.runner). Prints one JSON line with run stats (incl.
per-phase stage_sec timings) and the lineage totals of the committed parts
(``read_lineage``). ``--links`` ALSO writes the SPEC §5 outlink product to
``<out_dir>/links`` and ``--meta`` the SPEC §6 page-metadata product to
``<out_dir>/meta``, both from the SAME per-batch parse (the batch's rows are
shuffled once, by part_id, and cached; every requested sink reads the
cache — side products do not re-run the Python parse).
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> None:
    flags = ("--links", "--meta")
    if len([a for a in sys.argv[1:] if a not in flags]) < 3:
        print(__doc__)
        sys.exit(2)
    args = [a for a in sys.argv[1:] if a not in flags]
    want_links = "--links" in sys.argv[1:]
    want_meta = "--meta" in sys.argv[1:]
    pages_loc, out_dir, run_id = args[0:3]
    num_parts = int(args[3]) if len(args) > 3 else 64
    parts_per_batch = int(args[4]) if len(args) > 4 else num_parts
    data_location = args[5] if len(args) > 5 else None

    from pyspark.sql import functions as F

    from ocr_spark.operators.runner import (
        read_lineage, read_pages, run_extract,
    )
    from ocr_spark.session import build_session

    spark = build_session(app_name=f"ocr-spark-extract-{run_id}")
    try:
        t0 = time.perf_counter()
        res = run_extract(
            spark,
            read_pages(spark, pages_loc),
            out_dir,
            run_id=run_id,
            num_parts=num_parts,
            parts_per_batch=parts_per_batch,
            data_location=data_location,
            links_location=(f"{out_dir}/links" if want_links else None),
            meta_location=(f"{out_dir}/meta" if want_meta else None),
        )
        lin = (
            read_lineage(spark, out_dir)
            .filter(F.col("status") == "ok")
            .agg(
                F.sum("input_rows").alias("input_rows"),
                F.sum("output_rows").alias("output_rows"),
                F.sum("bytes_in").alias("bytes_in"),
            )
            .collect()[0]
        )
        print(
            json.dumps(
                {
                    **res,
                    "wall_sec": round(time.perf_counter() - t0, 3),
                    "input_rows": int(lin["input_rows"] or 0),
                    "output_rows": int(lin["output_rows"] or 0),
                    "bytes_in": int(lin["bytes_in"] or 0),
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
