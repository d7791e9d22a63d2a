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


def _persisted_rdds():
    """The running SparkContext's persisted RDDs as a Java map, or None."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return None if sc is None else sc._jsc.getPersistentRDDs()


def _persisted_rdd_ids() -> set[int]:
    rdds = _persisted_rdds()
    if rdds is None:
        return set()
    # one gateway call, not one per key
    return {int(i) for i in rdds.keySet().toString().strip("[]").split(",") if i}


def collect_then_uncache(df) -> list:
    """``df.collect()``, then uncache every cached frame ``df`` reads,
    nested caches included.

    For engine entry points that return a lazy frame over caches they made
    and hand back no other handle to them (registry queries such as
    ``pipe_dsir``, ``near_keepers(full_cc=True)``): the test that ran one
    releases what it cached."""
    rows = df.collect()
    jss = df.sparkSession._jsparkSession
    cm = jss.sharedState().cacheManager()
    found = []

    def walk(node):
        name = node.nodeName()
        if name == "InMemoryRelation":
            found.append(node.cacheBuilder().logicalPlan())
            walk(node.cacheBuilder().cachedPlan())
        elif name == "InMemoryTableScan":
            walk(node.relation())
        elif name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        elif name.endswith("QueryStage"):  # AQE stages are leaves
            walk(node.plan())
        elif name == "ReusedExchange":  # a leaf over the reused exchange
            walk(node.child())
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                walk(seq.apply(i))

    walk(df._jdf.queryExecution().withCachedData())
    for plan in found:
        cm.uncacheQuery(jss, plan, False, False)
    return rows


@pytest.fixture(scope="session")
def persisted_allowed() -> set[int]:
    """Persisted RDD ids owned by session-scoped fixtures, which live for
    the whole run by design."""
    return set()


def _check_persisted_leak(allowed: set[int], what: str):
    before = _persisted_rdd_ids()
    yield
    leaked = _persisted_rdd_ids() - before - allowed
    if leaked:
        # eager local checkpoints: nothing in the DataFrame API releases
        # them (Spark 4.1 keeps them after every reference is dropped),
        # so a test cannot unpersist them
        rdds = _persisted_rdds()
        leaked = {i for i in leaked if not rdds.get(i).isCheckpointed()}
    if leaked:
        pytest.fail(
            f"{what} left persisted RDDs {sorted(leaked)} behind: "
            "unpersist what it caches", pytrace=False,
        )


@pytest.fixture(autouse=True)
def no_persisted_leak(persisted_allowed, request):
    """Fail a test that leaves new persisted RDDs to the next one."""
    yield from _check_persisted_leak(persisted_allowed, request.node.nodeid)


@pytest.fixture(scope="module", autouse=True)
def no_persisted_leak_module(persisted_allowed, request):
    """The same over a module, after its module-scoped fixtures are torn
    down."""
    yield from _check_persisted_leak(persisted_allowed, request.node.nodeid)


@pytest.fixture(scope="session")
def golden_records() -> list[dict]:
    return json.loads(GOLDEN_PATH.read_text())


@pytest.fixture(scope="session")
def fixture_df(spark, persisted_allowed):
    from ocr_spark.gen import fixture_pages_df

    before = _persisted_rdd_ids()
    df = fixture_pages_df(spark)
    df.cache().count()
    persisted_allowed.update(_persisted_rdd_ids() - before)
    return df
