"""Shared text-oracle fragments and scan helper — NO query registrations.

The token algebra's DuckDB spellings and the parallel documents scan,
used by four domain modules (``text``, ``pipeline``, ``aggregates`` and
``dedup``), so they live outside all of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreduce_system_spark.functions import text as TXT
from mapreduce_system_spark.sources.tables import ensure_parallelism, load_table


def _docs(spark: SparkSession, sf_dir: str, columns: list[str]) -> DataFrame:
    """Documents scan spread across cores — the token-algebra expressions
    are CPU-bound."""
    return ensure_parallelism(load_table(spark, sf_dir, "documents", columns=columns))


# DuckDB fragments mirroring functions.text primitives.
_TOKS = r"list_filter(string_split_regex(lower(text), '\W+'), t -> t <> '')"
_STOPLIST = "['" + "', '".join(TXT.STOPWORDS) + "']"


def _marker_score_sql(lang: str) -> str:
    markers = "['" + "', '".join(TXT.LANG_MARKERS[lang]) + "']"
    return f"len(list_filter(ts, t -> list_contains({markers}, t)))"
