"""Registry machinery for oracle-checked queries.

Each query is a pure callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) a DuckDB oracle string over the same parquet tables. The
driver hash-compares row count + schema + order-insensitive values, sorting
columns by name — so both sides must agree on column NAMES and exact
values (see ``determinism`` helpers for the float discipline that makes
exact double equality achievable).

Construction-time side effects: CALLING a registered ``fn`` may run
cluster jobs before any action on the returned frame — queries that use
``operators.partitioning.shared`` (an EAGER ``localCheckpoint``
materializing a multiply-referenced subplan) or that build fixture
tables (the Delta/lakehouse/Kafka-twin queries write real tables under a
session scratch dir, ``session.scratch_dir``, removed on ``spark.stop()``).
Tooling that merely introspects plans (``.explain``, schema
inspection) should expect ``fn`` itself to take seconds and to pin
executor-storage blocks until the frame is garbage collected.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and its optional DuckDB oracle) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""), tags)
        return fn

    return deco


def get(name: str) -> QuerySpec:
    return _REGISTRY[name]


def all_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in _REGISTRY.items() if spec.oracle is not None
    }
