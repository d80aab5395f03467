"""Seeded input generator for the benchmark.

Everything here is plain numpy in one process: the library under test
only ever receives the arrays this module returns.  The same seed always
gives the same inputs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# 2024-01-01T00:00:00Z in epoch microseconds: the event clock's origin
EPOCH_US = 1_704_067_200 * 1_000_000
_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz     ", dtype=np.uint8)


@dataclass
class Graph:
    n_vertices: int
    src: np.ndarray  # int64, Zipf out-degree
    dst: np.ndarray  # int64, uniform
    weight: np.ndarray  # int64 in [1, 100]
    label: list  # vertex property group 1: label (string) ...
    age: np.ndarray  # ... and age (int32)
    score: np.ndarray  # vertex property group 2: score (double)
    hubs: np.ndarray  # vertex ids by descending out-degree (top 16)


@dataclass
class Docs:
    text: list  # ASCII, doc_id = position


@dataclass
class Events:
    user_id: np.ndarray  # float64 with NaN for anonymous traffic
    ts_us: np.ndarray  # int64 epoch micros


def power_law_graph(seed: int, n_vertices: int, n_edges: int) -> Graph:
    """Directed multigraph whose source degrees follow Zipf(2).

    As in scripts/make_skewgraph.py: rank = min(floor(1/u), V) so
    P(rank = r) ~ 1/r^2 and the rank-1 vertex sources about half the
    edges.  Ranks are mapped to vertex ids through a seeded permutation
    so the hubs sit at arbitrary ids."""
    rng = np.random.default_rng([seed, 1])
    u = 1.0 - rng.random(n_edges)  # (0, 1]
    rank = np.minimum(np.floor(1.0 / u), n_vertices).astype(np.int64)
    perm = rng.permutation(n_vertices).astype(np.int64)
    src = perm[rank - 1]
    dst = rng.integers(0, n_vertices, n_edges, dtype=np.int64)
    weight = rng.integers(1, 101, n_edges, dtype=np.int64)
    lengths = rng.integers(3, 17, n_vertices)
    letters = _ALPHABET[rng.integers(0, 26, int(lengths.sum()))].tobytes().decode()
    cuts = np.concatenate([[0], np.cumsum(lengths)])
    label = [letters[cuts[i] : cuts[i + 1]] for i in range(n_vertices)]
    age = rng.integers(0, 100, n_vertices).astype(np.int32)
    score = np.round(rng.random(n_vertices) * 1000.0, 3)
    hubs = perm[:16]
    return Graph(n_vertices, src, dst, weight, label, age, score, hubs)


def deep_source(g: Graph, seed: int, depth: int) -> int:
    """A seeded pick among the vertices whose BFS frontier is still
    non-empty after ``depth`` levels (the deepest one found when there is
    none), so a ``depth``-level traversal from it runs every level."""
    rng = np.random.default_rng([seed, 7])
    best, best_depth = int(g.hubs[0]), -1
    for s in rng.permutation(np.unique(g.src)):
        seen = np.zeros(g.n_vertices, dtype=bool)
        seen[s] = True
        front = seen.copy()
        level = 0
        while level < depth:
            nxt = np.zeros_like(seen)
            nxt[g.dst[front[g.src]]] = True
            nxt &= ~seen
            if not nxt.any():
                break
            seen |= nxt
            front = nxt
            level += 1
        if level == depth:
            return int(s)
        if level > best_depth:
            best, best_depth = int(s), level
    return best


def documents(seed: int, n_docs: int) -> Docs:
    """ASCII documents of 8..120 characters (letters and spaces)."""
    rng = np.random.default_rng([seed, 2])
    lengths = rng.integers(8, 121, n_docs)
    body = _ALPHABET[rng.integers(0, len(_ALPHABET), int(lengths.sum()))]
    raw = body.tobytes().decode()
    cuts = np.concatenate([[0], np.cumsum(lengths)])
    # a document never starts with a space, so no text is blank
    text = ["d" + raw[cuts[i] + 1 : cuts[i + 1]] for i in range(n_docs)]
    return Docs(text)


def events(seed: int, n_events: int, n_users: int, null_share: float = 0.02) -> Events:
    """Click events: users draw bursts of activity over two days, with
    gaps that sometimes exceed the 30-minute session gap.  A share of
    events is anonymous (null ``user_id``), as in real web traffic."""
    rng = np.random.default_rng([seed, 3])
    user = rng.integers(0, n_users, n_events).astype(np.float64)
    # per-user start times plus exponential inter-arrival gaps (mean 10 min)
    start = rng.integers(0, 2 * 86_400, n_users) * 1_000_000
    order = np.argsort(user, kind="stable")
    gaps = rng.exponential(600.0, n_events) * 1_000_000
    ts = np.empty(n_events, dtype=np.int64)
    su = user[order].astype(np.int64)
    csum = np.cumsum(gaps[order])
    first = np.r_[True, su[1:] != su[:-1]]
    base = np.maximum.accumulate(np.where(first, csum - gaps[order], 0.0))
    ts[order] = EPOCH_US + start[su] + (csum - base).astype(np.int64)
    anon = rng.random(n_events) < null_share
    user[anon] = np.nan
    return Events(user, ts)
