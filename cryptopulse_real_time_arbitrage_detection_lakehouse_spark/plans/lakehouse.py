"""Lakehouse layout queries, oracle-checked.

Two physical-layout twins whose effect on the answer is nil and whose
effect on the plan is checked: `lineitem_zorder_keys` (the Morton codes
behind the OPTIMIZE-ZORDER twin) and `bucketed_join_audit` (a bucketed
fact-fact join planned with no Exchange). The Delta history and
time-travel audits live in ``plans/delta.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.determinism import dsum as _dsum
from ..functions.determinism import sql_dsum as _sql_dsum
from ..operators.partitioning import write_bucketed
from ..operators.zorder import sql_interleave, sql_scaled, with_zvalue
from ..session import scratch_dir
from ..sources.testdata import load_table
from .registry import register


@register(
    "lineitem_zorder_keys",
    oracle=f"""
WITH bounds AS (
  SELECT min(l_partkey) AS amin, max(l_partkey) AS amax,
         min(l_suppkey) AS bmin, max(l_suppkey) AS bmax
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       {sql_interleave(sql_scaled('l_partkey', 'amin', 'amax'),
                       sql_scaled('l_suppkey', 'bmin', 'bmax'))} AS zval
FROM lineitem, bounds
""",
    doc="Normalized Morton (Z-order) codes for (l_partkey, l_suppkey) - "
    "the sort key behind `operators.zorder.zorder_write`, the engine's "
    "OPTIMIZE-ZORDER twin. Keys are affinely mapped onto a common 16-bit "
    "width from their global min/max before interleaving (asymmetric raw "
    "ranges would let one key's high bits dominate the range split, "
    "leaving the other un-clustered - measured, see operators/zorder.py), "
    "then clustering on the code gives every output file a small tile of "
    "the key plane, so per-file min/max stats prune scans filtered on "
    "EITHER column (verified against real parquet footers in "
    "tests/test_zorder.py). Pure integer arithmetic: exact, portable, "
    "whole-stage-codegen'd; the min/max pass is a broadcast single-row "
    "aggregate.",
    tags=("lakehouse", "zorder", "layout"),
)
def lineitem_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return with_zvalue(li, ("l_partkey", "l_suppkey"), out="zval")


@register(
    "bucketed_join_audit",
    oracle=f"""
SELECT o.o_orderpriority, count(*) AS n,
       {_sql_dsum("l.l_extendedprice")} AS revenue,
       CAST(1 AS BIGINT) AS join_has_no_exchange,
       CAST(1 AS BIGINT) AS scan_is_bucketed
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
    doc="Bucketed co-located fact-fact join behind a correctness row "
    "(X40 made driver-checkable): lineitem and orders are persisted as "
    "catalog tables hash-bucketed on their join key (8 buckets, one "
    "file per bucket), and the join plan is then AUDITED — with "
    "broadcast disabled it must be a SortMergeJoin with ZERO Exchange "
    "(bucket i zips with bucket i; the only surviving sort is the "
    "per-task in-memory one) over scans reporting 'Bucketed: true' "
    "with all 8 buckets selected. Both plan facts ride as flags next "
    "to the joined content, which the oracle recomputes from the raw "
    "tables — so green certifies the bucketed layout changed the PLAN "
    "without changing one row of the ANSWER. At 100 TB this is the "
    "pay-shuffle-once contract: two fact tables bucketed at write "
    "time join with zero network movement on every later query, the "
    "single biggest shuffle a warehouse saves.",
    tags=("join", "bucketing", "layout", "relational", "tpch"),
)
def bucketed_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    db = f"bkt_{_uuid.uuid4().hex[:10]}"
    loc = scratch_dir(spark, "cpbkt_")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    write_bucketed(li, f"{db}.li_b", key="l_orderkey", buckets=8)
    write_bucketed(orders, f"{db}.orders_b", key="o_orderkey", buckets=8)
    a = spark.table(f"{db}.li_b")
    b = spark.table(f"{db}.orders_b")
    joined = a.join(b, a.l_orderkey == b.o_orderkey)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    no_exchange = int("SortMergeJoin" in plan and "Exchange" not in plan)
    bucketed = int(
        "Bucketed: true" in plan
        and plan.count("SelectedBucketsCount: 8 out of 8") == 2
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("l_extendedprice").alias("revenue"),
        F.lit(no_exchange).cast("long").alias("join_has_no_exchange"),
        F.lit(bucketed).cast("long").alias("scan_is_bucketed"),
    )
