"""The declared query surface: name → (spark, sf_dir) → DataFrame, plus the
DuckDB oracle SQL for every exact-semantics query.

This is the registry behind ``__spark_entry__.queries()`` /
``oracle_sql()``.  Conventions:

- every computed column is aliased identically in the Spark query and the
  oracle SQL (the driver sorts columns by name before value-hashing);
- approximate queries register NO oracle (rows-only check) — estimator
  values can never hash-match across engines (SURVEY.md §7.3);
- double-typed aggregates are rounded the same way on both sides so
  summation-order ulps can't flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

import functools

from pyspark.sql import DataFrame, SparkSession

from kafka_go_cardinality_spark.caching import release_tracked

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle=None`` marks it rows-only (approx ops).

    Entry to any query releases the PREVIOUS query's tracked caches
    (see caching.py) so persisted intermediates never accumulate across
    a multi-query sweep."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_tracked()
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return wrapped

    return deco


# Import the family modules for their registration side effects.  Order
# mirrors SURVEY.md §7.1's build order, and it is the registry order:
# each module registers its queries in definition order at import.
from kafka_go_cardinality_spark import queries_cardinality  # noqa: E402,F401
from kafka_go_cardinality_spark import queries_relational  # noqa: E402,F401
from kafka_go_cardinality_spark import queries_datapipe  # noqa: E402,F401
from kafka_go_cardinality_spark import queries_analytics  # noqa: E402,F401
from kafka_go_cardinality_spark import queries_streaming  # noqa: E402,F401
from kafka_go_cardinality_spark import queries_udf  # noqa: E402,F401
