"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical parquet files, and the engine only ever sees the
files. Each input draws from its own child stream of the seed, so adding
an input never shifts the values of another.

- ``corpus``: documents whose words follow a Zipf law over a seeded
  vocabulary (the word-count / grep / inverted-index / sort input).
- ``graph``: a directed power-law edge list (Chung-Lu endpoint weights)
  with node ids scattered by a seeded permutation.
- ``event_files``: event batches whose event time advances file by file,
  for the stream replay.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_STREAMS = {"corpus": 1, "graph": 2, "events": 4}

_LANGS = ["en", "es", "de", "fr", "zh"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_EPOCH_2024 = 1_704_067_200 * 1_000_000


def rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[stream]])


def write_parquet(table: pa.Table, path: Path) -> None:
    """Deterministic parquet write (one row group, fixed options)."""
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        table, str(path), compression="snappy", row_group_size=1 << 30,
        store_schema=False,
    )


def _vocabulary(g: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = "".join(g.choice(letters, size=int(g.integers(3, 10))))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def corpus(seed: int, out_dir: Path, n_docs: int, words_per_doc: int, vocab: int) -> dict:
    """``documents.parquet`` with Zipf(1.1)-distributed words.

    Returns the generator facts the workload needs (grep word)."""
    g = rng(seed, "corpus")
    vocab_words = _vocabulary(g, vocab)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -1.1
    p /= p.sum()
    lengths = g.integers(words_per_doc // 2, words_per_doc * 3 // 2, size=n_docs)
    draws = g.choice(vocab, size=int(lengths.sum()), p=p)
    seps = g.choice([" ", " ", " ", " ", ", ", ". "], size=int(lengths.sum()))
    capital = g.random(n_docs) < 0.3
    texts = []
    pos = 0
    for i, n in enumerate(lengths):
        ws = [vocab_words[j] for j in draws[pos:pos + n]]
        if capital[i]:
            ws[0] = ws[0].capitalize()
        texts.append("".join(w + s for w, s in zip(ws, seps[pos:pos + n])).rstrip(" ,."))
        pos += n
    write_parquet(_documents_table(g, texts), out_dir / "documents.parquet")
    return {"grep_word": vocab_words[40]}


def _documents_table(g: np.random.Generator, texts: list[str]) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[i] for i in g.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{i}" for i in g.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def graph(seed: int, out_dir: Path, n_nodes: int, n_edges: int) -> None:
    """``edges.parquet`` (src, dst): distinct directed power-law edges, no
    self-loops. Endpoints are drawn with weight (i+1)^-0.6 (degree
    exponent ~2.7), then node ids are scattered by a permutation."""
    g = rng(seed, "graph")
    w = np.arange(1, n_nodes + 1, dtype=np.float64) ** -0.6
    w /= w.sum()
    perm = g.permutation(n_nodes).astype(np.int64) + 1
    src = perm[g.choice(n_nodes, size=n_edges * 2, p=w)]
    dst = perm[g.choice(n_nodes, size=n_edges * 2, p=w)]
    pairs = np.stack([src, dst], axis=1)
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    _, first = np.unique(pairs, axis=0, return_index=True)
    pairs = pairs[np.sort(first)][:n_edges]
    write_parquet(
        pa.table({"src": pa.array(pairs[:, 0]), "dst": pa.array(pairs[:, 1])}),
        out_dir / "edges.parquet",
    )


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), pa.timestamp("us"))


def events_table(
    g: np.random.Generator, first_id: int, n: int, n_users: int, start_us: int, span_us: int
) -> pa.Table:
    """``n`` events with ids from ``first_id``, event time uniform in
    ``[start_us, start_us + span_us)``."""
    ts = start_us + g.integers(0, span_us, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(g.integers(0, n_users, n).astype(np.int64)),
            "event_type": pa.array([_EVENT_TYPES[i] for i in g.integers(0, 5, n)]),
            "value": pa.array(np.round(g.uniform(0.0, 330.0, n), 2)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in g.integers(0, 100, n)]),
        }
    )


def event_files(
    seed: int, out_dir: Path, n_files: int, rows_per_file: int, n_users: int, file_span_s: int
) -> list[Path]:
    """``n_files`` event files; file i holds event times in
    ``[i, i+1) * file_span_s`` after 2024-01-01, so replaying them in
    order never produces an event behind the stream's watermark."""
    g = rng(seed, "events")
    paths = []
    span_us = file_span_s * 1_000_000
    for i in range(n_files):
        t = events_table(g, i * rows_per_file, rows_per_file, n_users, _EPOCH_2024 + i * span_us, span_us)
        p = out_dir / f"events-{i:04d}.parquet"
        write_parquet(t, p)
        paths.append(p)
    return paths


def tree_digest(root: Path) -> str:
    """sha256 over every file under ``root`` (relative names and bytes)."""
    import hashlib

    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = Path(dirpath) / name
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()
