"""Avro connector round-trip (r04 VERDICT item 6's one-time probe).

Probe result 2026-08-21: /opt/spark/jars ships the avro-1.12.1 CORE jars
and — less obviously — spark-sql_2.13-4.1.2.jar bundles the
org.apache.spark.sql.avro classes themselves; only the spark-avro
module's META-INF DataSourceRegister entry (the ``format("avro")`` short
name) is absent. textfmt.write_avro/read_avro therefore always use the
full class name, and Avro IO runs for real without the connector — the
registry entry
scan_avro_roundtrip grades it under the DuckDB value hash beside the
JSONL/CSV/ORC/XML round-trips.
"""

from __future__ import annotations

import pytest

from ocr_spark.queries_formats import _hostile, _unpack
from ocr_spark.sources import textfmt

SF = "/root/testdata/sf0.001"


def test_avro_roundtrip(spark, tmp_path):
    if not textfmt.avro_available(spark):
        pytest.skip("no avro classes on the classpath at all")
    base = _hostile(spark, SF, nested=True)
    path = str(tmp_path / "export")
    textfmt.write_avro(base, path, num_shards=4)
    back = _unpack(textfmt.read_avro(spark, path), nested=True)
    want = _unpack(base, nested=True)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_avro_gate_is_honest(spark, tmp_path):
    """avro_available must agree with write_avro actually working — the
    gate can neither mask a broken path nor hide a working one."""
    works = True
    try:
        textfmt.write_avro(spark.range(3), str(tmp_path / "probe"))
    except Exception:
        works = False
    assert works == textfmt.avro_available(spark)
