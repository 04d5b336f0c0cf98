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

import re
from pathlib import Path

import pytest

from mapreduce_system_spark import caches
from mapreduce_system_spark.registry import QUERIES
from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent
QUERIES_DIR = REPO / "mapreduce_system_spark" / "queries"


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
    """The driver's correctness gate covers the FIRST 50 registered
    queries. queries/__init__.py's DRIVER_WINDOW names them and moves them
    to the front, so the gate is that list, not import order. Pin the
    reorder, 50 distinct names, and the current rotation's boundary; update
    the boundary assertions deliberately with each rotation."""
    from mapreduce_system_spark.queries import DRIVER_WINDOW

    names = list(QUERIES)
    window = names[:50]
    assert window == DRIVER_WINDOW
    assert len(set(window)) == 50
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


# query-name prefix -> the queries/ module that holds its domain
DOMAIN_OF_PREFIX = {
    "graph": "graph",
    "basket": "graph",
    "txt": "text",
    "udtf": "text",
    "rel": "relational",
    "agg": "aggregates",
    "skew": "aggregates",
    "fn": "temporal",
    "asof": "temporal",
    "stream": "streaming",
    "sim": "similarity",
    "emb": "similarity",
    "cluster": "similarity",
    "dedup": "dedup",
    "pipe": "pipeline",
    "udf": "pipeline",
    "mm": "multimodal",
    "sink": "sinks",
    "scan": "sinks",
    "mr": "mrcore",
}


def test_queries_live_in_their_domain_module():
    """Queries are filed by domain (the name prefix), not by the round that
    added them: every registered query's module is its prefix's domain
    module, and no queries/ module is round-named (``fresh*`` or a trailing
    digit)."""
    misfiled = {
        n: fn.__module__
        for n, fn in QUERIES.items()
        if fn.__module__
        != f"mapreduce_system_spark.queries.{DOMAIN_OF_PREFIX.get(n.split('_')[0])}"
    }
    assert misfiled == {}
    mods = [p.stem for p in QUERIES_DIR.glob("*.py")]
    assert [m for m in mods if m.startswith("fresh") or m[-1].isdigit()] == []


def test_queries_citations_name_live_modules():
    """Every ``queries/<mod>.py`` or ``queries.<mod>`` citation in the
    package, tools, tests, README.md and SURVEY.md names a module that
    exists. A citation inside an oracle's SQL text is part of the
    hash-pinned oracle, so lines that appear in an oracle are skipped."""
    from mapreduce_system_spark.registry import ORACLE_SQL

    live = {p.stem for p in QUERIES_DIR.glob("*.py")}
    oracle_lines = {
        line.strip() for sql in ORACLE_SQL.values() for line in sql.splitlines()
    }
    # ``queries.items()`` / ``queries.schema[...]`` are variables, not modules
    pat = re.compile(r"\bqueries(?:/(\w+)\.py|\.([a-z_]\w*)\b(?![(\[]))")
    cited, dead = 0, []
    for path in [
        *sorted((REPO / "mapreduce_system_spark").rglob("*.py")),
        *sorted((REPO / "tools").glob("*.py")),
        *sorted((REPO / "tests").glob("*.py")),
        REPO / "README.md",
        REPO / "SURVEY.md",
    ]:
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if line.strip() in oracle_lines:
                continue
            for m in pat.finditer(line):
                cited += 1
                if (m.group(1) or m.group(2)) not in live:
                    dead.append(f"{path.relative_to(REPO)}:{i}: {m.group(0)}")
    assert cited, "the citation pattern matched nothing"
    assert dead == []
