"""mapreduce_system_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capabilities of the
reference repo ``rsyjswy23/6.824_MapReduce_system`` (MIT 6.824 Lab 1, a Go
MapReduce runtime implementing Dean & Ghemawat, OSDI 2004). The reference's
runtime machinery (coordinator/worker pull scheduling ``coordinator.go:84-104``,
hash-partitioned shuffle files ``worker.go:105-118``, atomic-rename commit
``coordinator.go:50-79``, deadline-based straggler re-execution
``coordinator.go:204-218``) is exactly the infrastructure Apache Spark
provides; this package therefore delivers the *capability surface* as
idiomatic DataFrame/SQL programs:

- ``sources``   — table/text/json/csv scans and partitioned sinks
  (reference: ``worker.go:92-104`` whole-file scan, ``worker.go:154-170`` sink)
- ``operators`` — the MapReduce-core workloads (word count, grep, sort,
  inverted index — ``README.MD:25-53``), a full relational layer (joins,
  aggregations, windows, set ops), LLM-data-pipeline operators (dedup,
  similarity search, text analysis) and as-of/range joins
- ``functions`` — column-level text/vector/multimodal helpers
- ``streaming`` — Structured Streaming windows + stateful ops over ``events``
- ``plans``     — plan-inspection helpers (pushdown/broadcast assertions)

Everything is public PySpark; no custom Catalyst rules are required
(SURVEY.md §4). Package layout note: the reference-derived name
``6_824_mapreduce_system_spark`` is not a valid Python identifier, hence
``mapreduce_system_spark``.
"""

__version__ = "0.1.0"

import os
import sys

if "PYTHON_WORKER_FACTORY_SECRET" in os.environ and sys.version_info < (3, 12):
    # inside a PySpark worker: stop each task re-reading every zip on
    # sys.path (see pyfiles)
    from mapreduce_system_spark.pyfiles import install_zip_directory_cache

    install_zip_directory_cache()

from mapreduce_system_spark.session import get_spark  # noqa: F401
from mapreduce_system_spark.sources.tables import TABLES, load_table  # noqa: F401
