"""Independent references the benchmark checks op outputs against.

Pure Python over the generated inputs (read with pyarrow, never through
Spark), one function per operator the ``mr_batch`` and ``graph_iter``
workloads call, plus the row comparison shared by every check.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

_SPLIT = re.compile(r"\W+").split


def tokens(text: str) -> list[str]:
    """The engine's tokenizer contract: lowercase, split on \\W+, no empties."""
    return [w for w in _SPLIT(text.lower()) if w]


# ---- MapReduce workloads --------------------------------------------------

def word_count(docs: list[tuple[int, str]]) -> list[tuple]:
    c = Counter(w for _, t in docs for w in tokens(t))
    return sorted(c.items())


def inverted_index(docs: list[tuple[int, str]]) -> list[tuple]:
    post: dict[str, set[int]] = defaultdict(set)
    for d, t in docs:
        for w in tokens(t):
            post[w].add(d)
    return sorted((w, sorted(ids), len(ids)) for w, ids in post.items())


def grep(docs: list[tuple[int, str]], pattern: str) -> list[tuple]:
    rx = re.compile(pattern)
    return sorted((d, t) for d, t in docs if rx.search(t))


def sort_docs(docs: list[tuple[int, str]]) -> list[tuple]:
    return sorted(((t, d) for d, t in docs))


def word_count_strings(docs: list[tuple[int, str]]) -> list[tuple]:
    """``map_reduce_scalable`` output of the word-count mapf/reducef."""
    return [(w, str(n)) for w, n in word_count(docs)]


# ---- graph workloads ------------------------------------------------------

def _undirected(edges: list[tuple[int, int]]) -> dict[int, set[int]]:
    adj: dict[int, set[int]] = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    return adj


def pagerank(edges: list[tuple[int, int]], iterations: int, tol: float | None = None):
    """(ranks, rounds run): the operator's leaky recurrence, damping 0.85."""
    outdeg = Counter(u for u, _ in edges)
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    n = len(nodes)
    w = {u: 1.0 / float(d) for u, d in outdeg.items()}
    ranks = {x: 1.0 / n for x in nodes}
    base = 0.15 / n
    rounds = 0
    for _ in range(iterations):
        contrib: dict[int, float] = defaultdict(float)
        for u, v in edges:
            contrib[v] += ranks[u] * w[u]
        new = {x: base + 0.85 * contrib.get(x, 0.0) for x in nodes}
        rounds += 1
        delta = sum(abs(new[x] - ranks[x]) for x in nodes)
        ranks = new
        if tol is not None and delta < tol:
            break
    return sorted(ranks.items()), rounds


def label_propagation(edges: list[tuple[int, int]], iterations: int) -> list[tuple]:
    adj = _undirected(edges)
    labels = {x: x for x in adj}
    for _ in range(iterations):
        new = {}
        for x, nbrs in adj.items():
            votes = Counter(labels[y] for y in nbrs)
            top = max(votes.values())
            new[x] = min(lbl for lbl, c in votes.items() if c == top)
        labels = new
    return sorted(labels.items())


def k_core(edges: list[tuple[int, int]], k: int, rounds: int) -> list[tuple]:
    adj = _undirected(edges)
    cur = {(u, v) for u, nbrs in adj.items() for v in nbrs}
    for _ in range(rounds):
        deg = Counter(u for u, _ in cur)
        keep = {u for u, d in deg.items() if d >= k}
        cur = {(u, v) for u, v in cur if u in keep and v in keep}
    return sorted(Counter(u for u, _ in cur).items())


def components_jump(edges: list[tuple[int, int]], rounds: int) -> list[tuple]:
    adj = _undirected(edges)
    lab = {x: x for x in adj}
    for _ in range(rounds):
        m = {x: min(lab[x], min(lab[y] for y in nbrs)) for x, nbrs in adj.items()}
        lab = {x: m[m[x]] for x in m}
    return sorted(lab.items())


# ---- comparison -----------------------------------------------------------

def same_rows(got: list[tuple], want: list[tuple], ordered: bool = False, rel_tol: float = 0.0) -> str | None:
    """None when ``got`` equals ``want`` (as bags unless ``ordered``);
    otherwise a one-line reason. Floats compare within ``rel_tol``."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    for i, (a, b) in enumerate(zip(got, want)):
        if not _row_eq(a, b, rel_tol):
            return f"row {i}: {a!r} != {b!r}"
    return None


def _row_eq(a, b, rel_tol: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=rel_tol, abs_tol=1e-12) if rel_tol else a == b
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_row_eq(x, y, rel_tol) for x, y in zip(a, b))
    return a == b
