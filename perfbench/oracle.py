"""Independent expected results for every benchmark op.

Nothing here touches Spark or the library under test:

- scans and lookups are recomputed by DuckDB straight from the GraphAr
  chunk files on disk (index = chunk number * chunk size + row in file);
- graph operators are recomputed by networkx and numpy over the
  generated edge list;
- row maps are recomputed from each operator's documented contract in
  plain numpy/pandas, one process.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

# checksum moduli: products of an index with a property catch rows whose
# property groups were zipped out of alignment
M1, M2, M3 = 1009, 1013, 1019


# ---------------------------------------------------------------- GraphAr


def _chunks(directory: str, cols: str) -> str:
    """SQL relation over every chunk file below ``directory`` with the
    part and chunk number parsed from the path and the row position."""
    return (
        f"(SELECT {cols}, "
        "coalesce(try_cast(regexp_extract(filename, 'part(\\d+)/', 1) AS BIGINT), 0) AS part, "
        "CAST(regexp_extract(filename, 'chunk(\\d+)$', 1) AS BIGINT) AS chunk, "
        "file_row_number AS rn "
        f"FROM read_parquet('{directory}/**/chunk*', filename=true, file_row_number=true))"
    )


class GraphArOracle:
    """DuckDB view of one GraphAr graph written by the benchmark."""

    def __init__(self, root: str, vchunk: int):
        import duckdb

        self.con = duckdb.connect()
        v = os.path.join(root, "vertex", "Person")
        e = os.path.join(root, "edge", "Person_knows_Person")
        la = _chunks(f"{v}/label_age", "label, age")
        sc = _chunks(f"{v}/score", "score")
        self.con.execute(
            f"CREATE TABLE vt AS SELECT a.chunk * {vchunk} + a.rn AS idx, label, age, score "
            f"FROM {la} a JOIN {sc} s USING (chunk, rn)"
        )
        for layout in ("ordered_by_source", "ordered_by_dest"):
            adj = _chunks(f"{e}/{layout}/adj_list", "_graphArSrcIndex AS src, _graphArDstIndex AS dst")
            w = _chunks(f"{e}/{layout}/w", "w")
            self.con.execute(
                f"CREATE TABLE {layout} AS SELECT src, dst, w "
                f"FROM {adj} a JOIN {w} b USING (part, chunk, rn)"
            )

    def q(self, sql: str):
        return self.con.execute(sql).fetchall()

    def vertex_scan(self):
        return self.q(
            f"SELECT count(*), sum(idx), sum(age), sum(length(label)), "
            f"sum((idx % {M1}) * age), sum((idx % {M2}) * length(label)), "
            f"sum(CAST(round(score * 1000) AS BIGINT)), "
            f"sum((idx % {M3}) * CAST(round(score * 1000) AS BIGINT)) FROM vt"
        )[0]

    def edge_scan(self, layout: str = "ordered_by_source"):
        return self.q(
            f"SELECT count(*), sum(src), sum(dst), sum(w), "
            f"sum((src % {M1}) * w), sum((dst % {M2}) * w) FROM {layout}"
        )[0]

    def degree_scan(self, n_vertices: int):
        """(vertices, sum of degrees, sum of (id % M1) * degree)."""
        n_edges, wsum = self.q(f"SELECT count(*), sum(src % {M1}) FROM ordered_by_source")[0]
        return (n_vertices, n_edges, wsum)

    def out_edges(self, vids: list[int]) -> dict[int, tuple]:
        return self._point("ordered_by_source", "src", "dst", vids)

    def in_edges(self, vids: list[int]) -> dict[int, tuple]:
        return self._point("ordered_by_dest", "dst", "src", vids)

    def _point(self, table: str, key: str, other: str, vids: list[int]) -> dict[int, tuple]:
        want = ",".join(str(int(v)) for v in set(vids)) or "-1"
        rows = self.q(
            f"SELECT {key}, count(*), sum({other}), sum(w), sum(({other} % {M2}) * w) "
            f"FROM {table} WHERE {key} IN ({want}) GROUP BY {key}"
        )
        out = {int(v): (0, 0, 0, 0) for v in vids}
        out.update({int(r[0]): tuple(int(x) for x in r[1:]) for r in rows})
        return out

    def vertices(self, vids: list[int]) -> dict[int, tuple]:
        want = ",".join(str(int(v)) for v in set(vids))
        rows = self.q(f"SELECT idx, label, age, score FROM vt WHERE idx IN ({want})")
        return {int(r[0]): (r[1], int(r[2]), float(r[3])) for r in rows}

    def close(self):
        self.con.close()


def written_totals(root: str) -> dict:
    """Rows in each vertex property group's chunk files, and (rows, sum
    of w) in each edge layout's chunk files, of the graph under ``root``."""
    import duckdb

    def dirs(p):
        return sorted(d for d in os.listdir(p) if os.path.isdir(os.path.join(p, d)))

    out = {}
    with duckdb.connect() as con:
        vroot = os.path.join(root, "vertex")
        for vt in dirs(vroot):
            for grp in dirs(os.path.join(vroot, vt)):
                path = os.path.join(vroot, vt, grp)
                out[f"vertex/{vt}/{grp}"] = con.execute(
                    f"SELECT count(*) FROM read_parquet('{path}/chunk*')"
                ).fetchone()[0]
        eroot = os.path.join(root, "edge")
        for et in dirs(eroot) if os.path.isdir(eroot) else []:
            for layout in dirs(os.path.join(eroot, et)):
                base = os.path.join(eroot, et, layout)
                n = con.execute(f"SELECT count(*) FROM read_parquet('{base}/adj_list/*/chunk*')").fetchone()[0]
                w = con.execute(f"SELECT sum(w) FROM read_parquet('{base}/w/*/chunk*')").fetchone()[0]
                out[f"edge/{et}/{layout}"] = (n, int(w))
    return out


def point_summary(other: np.ndarray, w: np.ndarray) -> tuple:
    """Count and checksums of one lookup's rows, as ``_point`` computes them."""
    return (len(other), int(other.sum()), int(w.sum()), int(((other % M2) * w).sum()))


# ---------------------------------------------------------- graph operators


def digraph(src: np.ndarray, dst: np.ndarray):
    import networkx as nx

    g = nx.DiGraph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    return g


def bfs_length(g, s: int, t: int, max_depth: int = 30) -> int:
    import networkx as nx

    if s == t:
        return 0
    try:
        d = nx.shortest_path_length(g, s, t)
    except (nx.NetworkXNoPath, nx.NodeNotFound):
        return -1
    return d if d <= max_depth else -1


def bfs_levels(g, s: int, max_depth: int) -> list[tuple[int, int]]:
    import networkx as nx

    if s not in g:
        return [(0, 1)]
    dist = nx.single_source_shortest_path_length(g, s, cutoff=max_depth)
    counts = np.bincount(np.fromiter(dist.values(), dtype=np.int64))
    return [(d, int(c)) for d, c in enumerate(counts) if c]


def sssp(src, dst, w, s: int, n_iters: int) -> dict[int, int]:
    """Shortest distance over paths of at most ``n_iters`` edges."""
    dist = {s: 0}
    for _ in range(n_iters):
        have = np.array(list(dist.keys()), dtype=np.int64)
        hv = np.array(list(dist.values()), dtype=np.int64)
        m = np.isin(src, have)
        lookup = dict(zip(have.tolist(), hv.tolist()))
        cand = np.array([lookup[x] for x in src[m].tolist()], dtype=np.int64) + w[m]
        new = dict(dist)
        for v, d in zip(dst[m].tolist(), cand.tolist()):
            if d < new.get(v, 1 << 62):
                new[v] = d
        dist = new
    return dist


def kcore(src, dst, k: int, n_iters: int) -> dict[int, int]:
    """Fixed-round peel of the undirected simple graph → surviving
    vertex → degree in the surviving subgraph."""
    keep = src != dst
    a, b = np.minimum(src[keep], dst[keep]), np.maximum(src[keep], dst[keep])
    e = np.unique(np.stack([a, b], axis=1), axis=0)
    for _ in range(n_iters):
        v, deg = np.unique(e.ravel(), return_counts=True)
        alive = v[deg >= k]
        e = e[np.isin(e[:, 0], alive) & np.isin(e[:, 1], alive)]
    v, deg = np.unique(e.ravel(), return_counts=True)
    return dict(zip(v.tolist(), deg.tolist()))


def coloring_violations(src, dst, colors: int, got: dict[int, int]) -> list[str]:
    """The documented contract of greedy_coloring: every vertex of the
    loop-free graph gets exactly one color in [-1, colors), and no edge
    joins two vertices of the same color class."""
    keep = src != dst
    verts = set(np.unique(np.r_[src[keep], dst[keep]]).tolist())
    bad = []
    if set(got) != verts:
        bad.append(f"colored {len(got)} vertices, graph has {len(verts)}")
    c = np.array([got.get(int(x), -2) for x in range(max(verts, default=-1) + 1)])
    if np.any((c[list(verts)] < -1) | (c[list(verts)] >= colors)):
        bad.append("color out of range")
    s, d = src[keep], dst[keep]
    same = (c[s] == c[d]) & (c[s] >= 0)
    if same.any():
        bad.append(f"{int(same.sum())} edges join one color class")
    return bad


def pagerank(src, dst, n: int, n_iters: int, damping: float = 0.85) -> np.ndarray:
    """The library's documented variant: no dangling redistribution,
    per-iteration rank rounded to 12 places."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    r = np.full(n, 1.0 / n)
    for _ in range(n_iters):
        contrib = np.bincount(dst, weights=r[src] / outdeg[src], minlength=n)
        r = np.round(0.15 / n + damping * contrib, 12)
    return r


# ---------------------------------------------------------------- row maps


def _half_up6(x: float) -> float:
    return float(Decimal(x).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _stats(vals: np.ndarray, reps: int) -> tuple[float, int, int]:
    mean = float(int(vals.sum(dtype=np.int64)) * reps) / (vals.size * reps)
    return _half_up6(mean), int(vals.min()), int(vals.max())


def jpeg_stats(texts: list[str]) -> pd.DataFrame:
    """wb x hb flat 8x8 blocks, block b = text byte (b mod L)."""
    rows = []
    for did, t in enumerate(texts):
        tb = np.frombuffer(t.encode(), dtype=np.uint8)
        wb, hb = 1 + len(tb) % 4, 1 + did % 3
        vals = tb[np.arange(wb * hb) % len(tb)]
        rows.append((did, 8 * wb, 8 * hb, *_stats(vals, 64)))
    return pd.DataFrame(rows, columns=["doc_id", "width", "height", "mean_gray", "min_gray", "max_gray"])


def png_stats(texts: list[str]) -> pd.DataFrame:
    """w = 1 + L mod 24, h = 1 + id mod 10, pixel i = text byte (i mod L)."""
    rows = []
    for did, t in enumerate(texts):
        tb = np.frombuffer(t.encode(), dtype=np.uint8)
        w, h = 1 + len(tb) % 24, 1 + did % 10
        vals = tb[np.arange(w * h) % len(tb)]
        rows.append((did, w, h, *_stats(vals, 1)))
    return pd.DataFrame(rows, columns=["doc_id", "width", "height", "mean_gray", "min_gray", "max_gray"])


def wav_stats(texts: list[str], rate: int = 8000) -> pd.DataFrame:
    """Sample i = (byte i - 80) * 256, mono int16 at 8 kHz."""
    rows = []
    for did, t in enumerate(texts):
        s = (np.frombuffer(t.encode(), dtype=np.uint8).astype(np.int64) - 80) * 256
        rows.append((did, rate, s.size * 1000 // rate, s.size, int((s * s).sum()), int(np.abs(s).max())))
    return pd.DataFrame(rows, columns=["doc_id", "sample_rate", "duration_ms", "n_samples", "total_energy", "peak"])


def sessions(user_id: np.ndarray, ts_us: np.ndarray, gap_s: int = 1800, max_s: int = 86400) -> pd.DataFrame:
    """sessionize_capped's contract, one user at a time: a session starts
    at a user's first event, after a gap >= ``gap_s``, or when the event
    is more than ``max_s`` after the running session's start.  Events
    order by (ts, event_id).  Null user ids form one user, as under SQL
    PARTITION BY."""
    df = pd.DataFrame({"user_id": user_id, "us": ts_us, "eid": np.arange(len(ts_us))})
    gap, cap = gap_s * 1_000_000, max_s * 1_000_000
    rows = []
    for uid, g in df.groupby("user_id", dropna=False, sort=False):
        us = g.sort_values(["us", "eid"], kind="mergesort")["us"].to_numpy()
        start, prev, sid, n = us[0], us[0], 0, 0
        for t in us:
            if n and (t - prev >= gap or t - start > cap):
                rows.append((uid, sid, start, prev, n))
                sid, start, n = sid + 1, t, 0
            prev, n = t, n + 1
        rows.append((uid, sid, start, prev, n))
    return pd.DataFrame(rows, columns=["user_id", "session_id", "start_us", "end_us", "n_events"])
