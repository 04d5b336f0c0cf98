"""Registered query catalog, grouped by domain.

Importing this package registers every domain query (relational, text/LLM
pipeline, temporal, streaming-parity, multimodal) into
``mapreduce_system_spark.registry.QUERIES`` / ``ORACLE_SQL``. Since the
r10 self-review, registration order is a pure function of THIS import
list from every entry point — see registry.py's bottom-import comment
for the mechanism.

IMPORT ORDER IS LOAD-BEARING: the driver's correctness sweep covers the
first 50 registered queries in registration order. Modules whose queries
are NEW this round, changed this round, or carry the catalog's oldest
driver evidence are imported first; everything pushed past the window
has a fresh driver-green row from a recent CORRECTNESS_r*.json.

Round-18 window (50 slots), executing VERDICT.md r17 #3 — every
r17-TOUCHED query leads (the optimization round's touched set must be
driver-verified at the round's OWN head; three of the five escaped the
r17 window because it was fixed mid-build, before the optimization
targets were chosen), then the r17 debuts' second rows, then the
catalog's oldest (r14) driver evidence:

- fresh14 (2, slots 1-2) — ``graph_k_truss`` (r17: explode member
  census + cache hoist) leads;
- fresh10 (3, slots 3-5) — ``graph_label_propagation`` (r17:
  deterministic-mode argmax) leads;
- fresh8f (5, slots 6-10) — ``graph_triangle_count`` (consumer of the
  r17 degree_census explode; the round's one open perf question) leads;
- fresh8g (4, slots 11-14) — ``rel_table_profile`` (r17: split string
  extrema) leads;
- fresh8j (3, slots 15-17) — ``graph_degree_distribution`` (r17:
  shared explode census) in slot 17;
- fresh17 (2, slots 18-19) — the r17 debuts' second driver rows;
- similarity (9, 20-28) + multimodal2 (1, 29) + sinks (5, 30-34) +
  dedup (8, 35-42) — the entire remaining r14-row cohort;
- relational (12, 43-54) — its first 8 queries fill the window
  (``rel_broadcast_join_region_revenue`` … ``rel_window_lag_rank``);
  the tail 4 (``rel_set_ops``/``rel_cube``/``rel_rollup``/
  ``rel_grouping_sets``) open r19.

Sums to 50 exactly (2+3+5+4+3+2+9+1+5+8+8). Round-19 window DRAFT
(slot arithmetic): relational's tail 4, then the r15-row modules in
import order below — fresh11 3 + streaming 8 + fresh 4 + fresh8e 2 +
fresh8c 3 + fresh8a 2 + fresh7d 1 + mrcore 9 + pipeline 8 +
textstats2 2 + fresh7b 3 (through slot 49) + fresh8b's first query
(50); fresh8b's tail 3 and relational2 (its tail 2 carry r16 rows)
open r20, followed by the r16-row modules, then the r17/r18-window
modules with the freshest rows close the rotation. Keep the
arithmetic ledgered here when the r19 rotation lands.
"""

from __future__ import annotations

from mapreduce_system_spark.queries import (  # noqa: F401
    fresh14,       # r17-touched k_truss (window 1-2)
    fresh10,       # r17-touched label_propagation (window 3-5)
    fresh8f,       # r17-touched triangle_count (window 6-10)
    fresh8g,       # r17-touched table_profile (window 11-14)
    fresh8j,       # r17-touched degree_distribution (window 15-17)
    fresh17,       # r17 debuts' second rows (window 18-19)
    similarity,    # r14 rows (window 20-28)
    multimodal2,   # r14 row (window 29)
    sinks,         # r14 rows (window 30-34)
    dedup,         # r14 rows (window 35-42)
    relational,    # r14 rows (window 43-50 = first 8; tail 4 open r19)
    # --- out of window from here (all driver-green r15/r16/r17,
    # re-verified at HEAD by tools/verify_local.py at close) ---
    fresh11,       # r15 rows — r19
    streaming,     # r15 rows — r19
    fresh,         # r15 rows — r19
    fresh8e,       # r15 rows — r19
    fresh8c,       # r15 rows — r19
    fresh8a,       # r15 rows — r19
    fresh7d,       # r15 row — r19
    mrcore,        # r15 rows — r19
    pipeline,      # r15 rows — r19
    textstats2,    # r15 rows — r19
    fresh7b,       # r15 rows — r19
    fresh8b,       # r15 rows — r19
    relational2,   # r17 rows ×4 + r16-row tail 2 — r19
    fresh12,       # r16 rows — r19/r20
    fresh13,       # r16 rows — r19/r20
    fresh8d,       # r16 rows — r19/r20
    fresh8h,       # r16 rows — r19/r20
    fresh8l,       # r16 rows — r19/r20
    graphml2,      # r16 rows — r19/r20
    fresh8i,       # r16 rows — r19/r20
    fresh8k,       # r16 rows — r19/r20
    fresh8m,       # r16 rows — r19/r20
    temporal2,     # r16 rows — r19/r20
    fresh6,        # r16 rows — r19/r20
    graphml,       # r16 rows — r19/r20
    textstats,     # r17 rows — freshest, close the rotation
    fresh7b2,      # r17 rows
    fresh7,        # r17 rows
    fresh7c,       # r17 rows
    fresh7e,       # r17 rows
    fresh7f,       # r17 rows
    multimodal,    # r17 rows
    fresh9,        # r17 rows
    temporal,      # r17 rows
    advanced,      # r17 rows
    fresh15,       # r17 rows
    fresh16,       # r17 rows
)
