"""Every registered query must *execute* end-to-end at sf0.001.

Guards against the round-2 failure mode: an operator's unit test passes
(it exercises the operator with its own arguments) while the *registered*
query errors (it wires the operator differently — e.g. referencing a
column the operator dropped). Running each ``queries()`` entry through a
no-collect action catches any AnalysisException / schema mismatch at the
cheapest scale before the driver's correctness sweep does.

Streaming-parity queries are batch twins here, so they run too. The test
is parametrized per query so a failure names the broken entry directly.
"""

from __future__ import annotations

import pytest

from mapreduce_system_spark import caches
from mapreduce_system_spark.registry import QUERIES
from tests.conftest import SF_DIR


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_registered_query_executes(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    try:
        # noop write executes the full physical plan without materializing
        # rows on the driver — same action the bench harness uses.
        df.write.format("noop").mode("overwrite").save()
    finally:
        caches.release()


def test_every_oracle_has_a_query():
    from mapreduce_system_spark.registry import ORACLE_SQL

    dangling = set(ORACLE_SQL) - set(QUERIES)
    assert not dangling, f"oracle entries without a registered query: {dangling}"


def test_gate_window_composition():
    """IMPORT ORDER IS LOAD-BEARING (queries/__init__.py): the driver's
    correctness gate covers the FIRST 50 registered queries. Pin the
    window that import list builds EXACTLY (module granularity, as laid
    out in the package docstring) so an accidental import reorder — or a
    module gaining a query — can't silently rotate queries into or out of
    the gate. Update deliberately with each rotation."""
    expected_modules = [
        ("fresh14", 2),      # r17-touched k_truss leads
        ("fresh10", 3),      # r17-touched label_propagation
        ("fresh8f", 5),      # r17-touched triangle_count
        ("fresh8g", 4),      # r17-touched table_profile
        ("fresh8j", 3),      # r17-touched degree_distribution
        ("fresh17", 2),      # r17 debuts' second rows
        ("similarity", 9),   # the r14-row cohort from here
        ("multimodal2", 1),
        ("sinks", 5),
        ("dedup", 8),
        ("relational", 8),   # first 8 of 12; the tail 4 open the next window
    ]
    assert sum(c for _, c in expected_modules) == 50
    names = list(QUERIES)
    window = names[:50]
    got_modules = []
    for n in window:
        mod = QUERIES[n].__module__.split(".")[-1]
        if not got_modules or got_modules[-1][0] != mod:
            got_modules.append([mod, 0])
        got_modules[-1][1] += 1
    assert [tuple(m) for m in got_modules] == expected_modules, got_modules
    assert window[:3] == [
        "graph_k_truss",
        "txt_pmi_collocations",
        "graph_label_propagation",
    ]
    # relational's window rows end at rel_window_lag_rank; its set-ops /
    # cube / rollup / grouping-sets tail sits immediately past the line
    assert window[49] == "rel_window_lag_rank"
    assert names[50:54] == [
        "rel_set_ops",
        "rel_cube",
        "rel_rollup",
        "rel_grouping_sets",
    ]
