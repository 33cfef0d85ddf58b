"""Inspection / metadata queries (SURVEY.md M1, check_bronze twin).

The reference audits its tables with ``printSchema`` + ``count`` +
``DeltaTable.history()`` (``/root/reference/src/utils/check_bronze.py:52-84``).
The history audit lives in ``plans/delta.py``; this module registers
the schema catalog (M1) and row-count audit as ordinary oracle-checked
queries so the driver verifies them like any other operator.

Both engines normalize types to one logical vocabulary (``timestamp``
covers Spark's tz/ntz split and DuckDB's TIMESTAMP): a catalog query's
job is the logical shape of the data, not engine-internal type spellings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: DuckDB information_schema type -> the engine's logical type name.
_DUCK_TO_LOGICAL = {
    "BIGINT": "bigint",
    "INTEGER": "int",
    "VARCHAR": "string",
    "DOUBLE": "double",
    "FLOAT[]": "array<float>",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP_NS": "timestamp",
}

_SQL_TYPE_CASE = "CASE data_type " + " ".join(
    f"WHEN '{k}' THEN '{v}'" for k, v in _DUCK_TO_LOGICAL.items()
) + " ELSE lower(data_type) END"

_TABLES_SQL = ", ".join(f"'{t}'" for t in TABLES)


@register(
    "catalog_schemas",
    oracle=f"""
SELECT table_name, column_name,
       CAST(ordinal_position AS BIGINT) AS ordinal,
       {_SQL_TYPE_CASE} AS logical_type
FROM information_schema.columns
WHERE table_name IN ({_TABLES_SQL})
""",
    doc="Schema catalog over every source table (M1 printSchema twin, "
    "check_bronze.py:52-60): one row per column with its logical type. "
    "Spark side reads parquet footers only (schema inference), no data "
    "scan; the oracle reads DuckDB's information_schema for the same "
    "views the driver registers.",
    tags=("inspection", "metadata"),
)
def catalog_schemas(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = []
    for t in TABLES:
        schema = load_table(spark, sf_dir, t).schema
        for pos, field in enumerate(schema.fields, start=1):
            logical = field.dataType.simpleString().replace("timestamp_ntz", "timestamp")
            rows.append((t, field.name, pos, logical))
    return spark.createDataFrame(
        rows, "table_name string, column_name string, ordinal bigint, logical_type string"
    )


@register(
    "catalog_row_counts",
    oracle=" UNION ALL ".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}" for t in TABLES
    ),
    doc="Row-count audit over every source table (check_bronze.py:62-67 "
    "twin). Each leg is a parquet metadata-only count (Spark answers "
    "count(*) from footer row counts — no column data is read); the "
    "union is 10 one-row aggregates.",
    tags=("inspection", "metadata"),
)
def catalog_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    legs = [
        load_table(spark, sf_dir, t)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(t).alias("table_name"), "n_rows")
        for t in TABLES
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out
