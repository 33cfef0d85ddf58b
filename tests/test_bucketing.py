"""Bucketed co-located joins: the pay-shuffle-once-at-write-time layout."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.operators.partitioning import (
    write_bucketed,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.plans import registry
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.testdata import (
    load_table,
)

from conftest import SF_ORACLE, SF_SMOKE, assert_oracle_match


@pytest.fixture
def bucket_db(spark, tmp_path):
    db = "bucketed_test"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{tmp_path / 'wh'}'")
    yield db
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_bucketed_fact_fact_join_has_no_exchange(spark, bucket_db):
    """lineitem and orders bucketed on the join key: the join plan must
    contain neither Exchange nor Sort — bucket i zips with bucket i, the
    shuffle was paid once at write time."""
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    write_bucketed(li, f"{bucket_db}.li_b", key="l_orderkey", buckets=8)
    write_bucketed(orders, f"{bucket_db}.orders_b", key="o_orderkey", buckets=8)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.table(f"{bucket_db}.li_b")
        b = spark.table(f"{bucket_db}.orders_b")
        joined = a.join(b, a.l_orderkey == b.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # the whole point: both scans are bucket-aware and NO shuffle runs
        # (the surviving per-task Sort is in-memory, not a network move)
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan and "SelectedBucketsCount: 8 out of 8" in plan

        # and the co-located join returns exactly the plain join's rows
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partitioned_write_prunes_partitions_on_read(spark, tmp_path):
    """Hive-style partitionBy layout: a filter on the partition column must
    resolve at PLANNING time (PartitionFilters + pruned partition count),
    never as a per-row data filter — at 100 TB this is the difference
    between listing one directory and scanning the table."""
    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "venue",
        F.when(F.col("event_id") % 2 == 0, "coinbase").otherwise("binance"),
    )
    path = str(tmp_path / "events_by_venue")
    events.write.partitionBy("venue").parquet(path)

    scan = spark.read.parquet(path).filter(F.col("venue") == "coinbase")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "venue" in plan, plan
    # the non-matching partition is pruned from the file listing itself
    assert "isnotnull(venue" in plan or "venue#" in plan
    expected = events.filter(F.col("venue") == "coinbase").count()
    assert scan.count() == expected
    # pushed partition filter must not survive as a post-scan Filter on venue
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "coinbase" in m.group(1), plan


def _bkt_databases(spark) -> set[str]:
    return {d.name for d in spark.catalog.listDatabases() if d.name.startswith("bkt_")}


def test_bucketed_join_audit_keeps_one_database_per_sf_dir(spark, ddb, tmp_path):
    """Repeated calls on one sf_dir share one catalog database instead of
    adding one per call, and the row still matches its oracle. The sf_dir
    is a fresh directory of links to the oracle tables, so its database
    is new to this session."""
    for t in ("lineitem", "orders"):
        (tmp_path / f"{t}.parquet").symlink_to(f"{SF_ORACLE}/{t}.parquet")
    row = registry.get("bucketed_join_audit")
    before = _bkt_databases(spark)
    row.fn(spark, str(tmp_path))
    df = row.fn(spark, str(tmp_path))
    assert len(_bkt_databases(spark) - before) == 1
    assert_oracle_match(df, ddb, row.oracle)
