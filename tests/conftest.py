"""Shared pytest fixtures: one local SparkSession for the whole run."""

from __future__ import annotations

import json
import os
import pathlib
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

GOLDEN_PATH = REPO / "tests" / "fixtures" / "golden.json"
SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    spark = build_session(master=f"local[{cpus}]", app_name="ocr-spark-tests",
                          shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def golden_records() -> list[dict]:
    return json.loads(GOLDEN_PATH.read_text())


@pytest.fixture(scope="session")
def fixture_df(spark):
    from ocr_spark.gen import fixture_pages_df

    df = fixture_pages_df(spark)
    df.cache().count()
    return df
