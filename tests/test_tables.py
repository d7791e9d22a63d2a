"""Table-format layer (ocr_spark.tables): the parquet path and bucketed
tables here; the ``snapshot:`` route in tests/test_tables_snapshot.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_parquet_fallback_roundtrip(spark, tmp_path):
    from ocr_spark.tables import read_table, write_table

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("part_id")
    )
    loc = str(tmp_path / "tbl")
    write_table(df, loc, mode="create", partition_by=("part_id",))
    back = read_table(spark, loc)
    assert back.count() == 100
    assert set(back.columns) == {"id", "part_id"}

    write_table(
        df.filter(F.col("id") < 10), loc, mode="append",
        partition_by=("part_id",),
    )
    assert read_table(spark, loc).count() == 110


def test_read_pages_dispatches_on_prefix(spark, tmp_path, fixture_df):
    from ocr_spark.operators.runner import read_pages

    d = str(tmp_path / "pages")
    fixture_df.write.parquet(d)
    assert read_pages(spark, d).count() == fixture_df.count()


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the same key/count join with ZERO Exchange
    nodes — the co-located-join contract write_bucketed exists for. (The
    per-bucket Sort under the SMJ remains: Spark ignores bucket sortBy
    metadata by default — spark.sql.legacy.bucketedTableScanOutputOrdering
    — and sorting a 1/N bucket slice is linear local work, not a shuffle.)
    Results must equal the plain (shuffled) join."""
    from ocr_spark.tables import read_bucketed, write_bucketed

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "lang", "n_chars")
    feats = docs.select(
        "doc_id", (F.col("n_chars") * 2).alias("feat")
    )
    write_bucketed(
        docs, "bt_docs", str(tmp_path / "bt_docs"), ("doc_id",), 8,
        sort_cols=("doc_id",),
    )
    write_bucketed(
        feats, "bt_feats", str(tmp_path / "bt_feats"), ("doc_id",), 8,
        sort_cols=("doc_id",),
    )
    # at sf0.01 the planner would broadcast the small side (correctly);
    # force the shuffle-join path the bucketing exists to serve — at 100 TB
    # NEITHER side of a fact–fact join fits a broadcast
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        a, b = read_bucketed(spark, "bt_docs"), read_bucketed(spark, "bt_feats")
        joined = a.join(b, "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan and "Bucketed: true" in plan, plan
        expect = sorted(
            (r["doc_id"], r["feat"]) for r in docs.join(feats, "doc_id")
            .select("doc_id", "feat").collect()
        )
        got = sorted(
            (r["doc_id"], r["feat"])
            for r in joined.select("doc_id", "feat").collect()
        )
        assert got == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe
            )
        spark.sql("DROP TABLE IF EXISTS bt_docs")
        spark.sql("DROP TABLE IF EXISTS bt_feats")


def test_join_bucketed_registry_row_is_exchange_free(spark):
    """The join_bucketed driver row: its executed join carries no
    Exchange (bucket co-location serves the partitioning) and a
    Bucketed: true scan on both sides."""
    from ocr_spark.queries import QUERIES
    import ocr_spark.queries_tables  # noqa: F401

    df = QUERIES["join_bucketed"](spark, "/root/testdata/sf0.01")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_part = plan.split("HashAggregate")[-1]  # below the agg: the join
    assert "Exchange" not in join_part, plan
    assert "Bucketed: true" in plan, plan
    for tb in ("reg_bt_lineitem", "reg_bt_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {tb}")
