"""Query registry: every implemented operator, paired with its DuckDB oracle.

Each entry is a named (spark, sf_dir) -> DataFrame callable plus (where
SQL-expressible) an ANSI-SQL twin the driver runs in DuckDB over the same
parquet tables. Conventions that make the value-hash comparison exact:

- every computed column is aliased identically on both sides;
- double outputs are ``round(x, k)`` on both sides;
- temporal outputs are formatted to strings / epoch bigints;
- DuckDB ``SUM(int)`` returns HUGEINT → oracle casts to BIGINT to match
  Spark's long;
- every query has a deterministic total order where order matters
  (unique tie-break keys), though the driver's hash is order-insensitive.

Citations: each query's docstring points at the reference behavior it
re-expresses (SURVEY.md §2 inventory).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}

# Oracles whose static SQL reads a side table the Spark query exports under
# an sf0.01-suffixed path (the driver's correctness-gate scale). Harnesses
# running another scale factor must treat these as rows-only
# (tools/verify_local.py does); concurrent runs at the SAME sf would race
# the export — bench and verify must not overlap at one scale factor.
SF_BOUND_ORACLES: set[str] = set()


def register(name: str, oracle: str | None = None, sf_bound: bool = False):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the registry.

    ``sf_bound=True`` marks an oracle that reads a Spark-exported side
    table at a static sf0.01 path (see ``SF_BOUND_ORACLES``)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            # a dict overwrite here is SILENT catalog corruption: which
            # implementation answers to the name becomes an accident of
            # import order, and the loser's oracle replaces the winner's
            # (a new registration once collided with pipe_weighted_sample
            # and lost without a sound)
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(already registered by {QUERIES[name].__module__})"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
            if sf_bound:
                SF_BOUND_ORACLES.add(name)
        return fn

    return deco


# Importing the package registers every domain module's queries and puts
# the driver's gate window (queries.DRIVER_WINDOW) first.
from mapreduce_system_spark import queries as _queries  # noqa: E402,F401
