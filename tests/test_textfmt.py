"""Text-format connectors (sources/textfmt): lossless round trips, dialect
hostility, shard-count control, schema-mandatory reads."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: t[0]
    )


@pytest.fixture(scope="module")
def hostile(spark):
    from ocr_spark.queries_formats import _hostile

    df = _hostile(spark, SF_SMALL, nested=True).cache()
    df.count()
    yield df
    df.unpersist()


def test_jsonl_roundtrip_lossless(spark, hostile, tmp_path):
    from ocr_spark.sources import textfmt

    path = str(tmp_path / "jsonl")
    textfmt.write_jsonl(hostile, path, num_shards=3)
    back = textfmt.read_jsonl(spark, path, hostile.schema)
    assert _rows(back.select(*hostile.columns)) == _rows(hostile)


def test_jsonl_gzip_shards(spark, hostile, tmp_path):
    from ocr_spark.sources import textfmt

    path = str(tmp_path / "jsonl")
    textfmt.write_jsonl(hostile, path, num_shards=3)
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(parts) == 3
    assert all(f.endswith(".json.gz") for f in parts)


def test_csv_roundtrip_preserves_hostile_field(spark, hostile, tmp_path):
    from ocr_spark.sources import textfmt

    flat = hostile.drop("meta", "toks")
    path = str(tmp_path / "csv")
    textfmt.write_csv(flat, path, num_shards=2)
    back = textfmt.read_csv(spark, path, flat.schema)
    got = _rows(back.select(*flat.columns))
    assert got == _rows(flat)
    # the tricky field must still carry its raw newline, quotes and comma
    tricky = got[0][flat.columns.index("tricky")]
    assert "\n" in tricky and '"' in tricky and "," in tricky


def test_csv_timestamp_is_instant_preserving(spark, hostile, tmp_path):
    from pyspark.sql import functions as F

    from ocr_spark.sources import textfmt

    flat = hostile.select("doc_id", "ts")
    path = str(tmp_path / "csvts")
    textfmt.write_csv(flat, path)
    back = textfmt.read_csv(spark, path, flat.schema)
    a = dict(flat.select("doc_id", F.unix_micros("ts")).collect())
    b = dict(back.select("doc_id", F.unix_micros("ts")).collect())
    assert a == b


def test_orc_roundtrip_nested(spark, hostile, tmp_path):
    from ocr_spark.sources import textfmt

    path = str(tmp_path / "orc")
    textfmt.write_orc(hostile, path, num_shards=2)
    back = textfmt.read_orc(spark, path)
    assert _rows(back.select(*hostile.columns)) == _rows(hostile)


def test_read_is_schema_mandatory():
    import inspect

    from ocr_spark.sources import textfmt

    for fn in (textfmt.read_jsonl, textfmt.read_csv):
        p = inspect.signature(fn).parameters["schema"]
        assert p.default is inspect.Parameter.empty


def test_registry_entries_match_oracle(spark):
    """The three scan_*_roundtrip entries against their DuckDB oracles at
    sf0.001 — the same comparison the driver runs at sf0.01."""
    import duckdb

    import __spark_entry__ as em

    qs, os_ = em.queries(), em.oracle_sql()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_SMALL}/documents.parquet'"
    )
    for key in ("scan_jsonl_roundtrip", "scan_csv_roundtrip",
                "scan_orc_roundtrip"):
        got = qs[key](spark, SF_SMALL)
        want = con.sql(os_[key])
        g = sorted(map(tuple, got.collect()))
        w = sorted(map(tuple, want.fetchall()))
        assert g == w, f"{key}: spark={g[:2]} oracle={w[:2]}"


def test_json_corrupt_quarantine_arms(spark):
    """scan_json_corrupt: the three JSON failure semantics hold —
    truncated objects quarantine the WHOLE row (all fields null),
    type-corrupt fields partially parse (other fields survive, line
    still quarantined), and extra fields parse clean."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_formats  # noqa: F401

    rows = QUERIES["scan_json_corrupt"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 500
    trunc = [r for r in rows if r["raw_line"] and r["doc_id"] is None]
    partial = [r for r in rows if r["raw_line"] and r["doc_id"] is not None]
    clean = [r for r in rows if not r["raw_line"]]
    assert trunc and partial and clean
    for r in trunc:
        assert r["lang"] is None and r["n_chars"] is None
        assert r["quarantined"] == 1
    for r in partial:
        assert r["lang"] is not None and r["n_chars"] is None
        assert r["doc_id"] % 7 == 5
        assert r["quarantined"] == 1
    for r in clean:
        assert r["doc_id"] % 7 not in (3, 5)
        assert r["n_chars"] is not None and r["quarantined"] == 0
