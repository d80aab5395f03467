"""Self-test of the benchmark's output checks: a correct result passes and
a perturbed one is flagged.  No Spark session is started; the GraphAr
graph is written with the library's single-process writer.

    python3 perfbench/selftest.py

Run from the repository root; exits non-zero when any check misbehaves.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402

import oracle  # noqa: E402
from oracle import M1, M2, M3  # noqa: E402
from workloads import CHUNK, Compute, Read  # noqa: E402

from duckdb_graphar_spark.graphar.writer import EdgeSpec, VertexSpec, write_graph  # noqa: E402


def _expect(name: str, reason, flagged: bool) -> bool:
    ok = (reason is not None) == flagged
    print(f"{'ok  ' if ok else 'FAIL'} {name}: {'flagged' if reason else 'passed'}"
          + (f" ({reason})" if reason else ""))
    return ok


def read_checks(work: str) -> bool:
    wl = Read(None, 7, None)
    wl.V, wl.E = 6000, 12000
    wl.generate()
    g = wl.g
    vt = pa.table({"label": g.label, "age": g.age, "score": g.score})
    props = pa.table({"w": g.weight})
    wl.yaml = write_graph(
        work, "G",
        {"Person": VertexSpec(vt, chunk_size=CHUNK, property_groups=[["label", "age"], ["score"]])},
        {("Person", "knows", "Person"): EdgeSpec(g.src, g.dst, properties=props)},
    )
    wl.expected()
    ok = True
    try:
        idx = np.arange(g.n_vertices)
        lab = np.array([len(s) for s in g.label])
        sc = np.round(g.score * 1000).astype(np.int64)
        age = g.age.astype(np.int64)
        vsum = (g.n_vertices, idx.sum(), age.sum(), lab.sum(), ((idx % M1) * age).sum(),
                ((idx % M2) * lab).sum(), sc.sum(), ((idx % M3) * sc).sum())
        ok &= _expect("vertex scan, correct", wl.check("scan.reader_vertices", None, vsum), False)
        # two rows' ages swapped: the property groups were zipped out of line
        bad = age.copy()
        bad[[0, 1]] = bad[[1, 0]]
        vbad = vsum[:4] + (((idx % M1) * bad).sum(),) + vsum[5:]
        ok &= _expect("vertex scan, misaligned group", wl.check("scan.ds_vertices", None, vbad), True)

        s, d, w = g.src, g.dst, g.weight
        esum = (len(s), s.sum(), d.sum(), w.sum(), ((s % M1) * w).sum(), ((d % M2) * w).sum())
        ok &= _expect("edge scan, correct", wl.check("scan.reader_edges", None, esum), False)
        ok &= _expect("edge scan, one edge lost", wl.check("scan.ds_edges", None, (esum[0] - 1,) + esum[1:]), True)

        hub = int(g.hubs[0])
        m = g.src == hub
        got = oracle.point_summary(g.dst[m], g.weight[m]) + (0,)
        ok &= _expect("CSR lookup of a hub, correct", wl.check("lookup.csr", hub, got), False)
        ok &= _expect("CSR lookup, stray row", wl.check("lookup.csr", hub, got[:-1] + (1,)), True)
        ok &= _expect("data-source CSR lookup of a hub, correct", wl.check("lookup.ds_csr", hub, got), False)
        ok &= _expect("data-source CSR lookup, stray row", wl.check("lookup.ds_csr", hub, got[:-1] + (1,)), True)
        v = int(g.dst[0])
        m = g.dst == v
        got = oracle.point_summary(g.src[m], g.weight[m]) + (0,)
        ok &= _expect("CSC lookup, correct", wl.check("lookup.csc", v, got), False)
        lost = oracle.point_summary(g.src[m][1:], g.weight[m][1:]) + (0,)
        ok &= _expect("CSC lookup, one edge lost", wl.check("lookup.csc", v, lost), True)
        ok &= _expect("data-source CSC lookup, one edge lost", wl.check("lookup.ds_csc", v, lost), True)
        deg = (g.n_vertices, len(s), int((s % M1).sum()))
        ok &= _expect("degrees, correct", wl.check("scan.degrees", None, deg), False)
        # one out-edge counted against the next vertex
        ok &= _expect("degrees, edge on the wrong vertex", wl.check("scan.degrees", None, deg[:2] + (deg[2] + 1,)), True)
        row = [(5, g.label[5], int(g.age[5]), float(g.score[5]))]
        ok &= _expect("vertex lookup, correct", wl.check("lookup.vertex", 5, row), False)
        ok &= _expect("vertex lookup, wrong row", wl.check("lookup.ds_vertex", 5, [(5, g.label[6], *row[0][2:])]), True)
        ok &= _expect("written chunk files", wl.check_written(work), False)
        os.remove(os.path.join(work, "vertex", "Person", "score", "chunk1"))
        ok &= _expect("written chunk files, one chunk lost", wl.check_written(work), True)
    finally:
        wl.close()
    return ok


def compute_checks() -> bool:
    wl = Compute(None, 7, None)
    wl.V, wl.E, wl.DOCS, wl.EVENTS, wl.USERS = 2000, 6000, 200, 3000, 100
    wl.generate()
    wl.expected()
    ok = True
    for op in ("graph.bfs_levels", "graph.sssp", "graph.kcore"):
        good = wl.want[op]
        ok &= _expect(f"{op}, correct", wl.check(op, None, good), False)
        if isinstance(good, dict):
            k = next(iter(good))
            bad = {**good, k: good[k] + 1}
        else:
            bad = good[:-1] + [(good[-1][0], good[-1][1] + 1)]
        ok &= _expect(f"{op}, perturbed", wl.check(op, None, bad), True)
    ok &= _expect("graph.bfs_length, correct", wl.check("graph.bfs_length", None, wl.want["graph.bfs_length"]), False)
    ok &= _expect("graph.bfs_length, one hop off",
                  wl.check("graph.bfs_length", None, wl.want["graph.bfs_length"] + 1), True)
    ranks = wl.want["graph.pagerank"]
    ok &= _expect("pagerank, correct", wl.check("graph.pagerank", None, dict(enumerate(ranks))), False)
    ok &= _expect("pagerank, perturbed", wl.check("graph.pagerank", None, dict(enumerate(ranks + 1e-6))), True)
    keep = wl.g.src != wl.g.dst
    verts = np.unique(np.r_[wl.g.src[keep], wl.g.dst[keep]])
    ok &= _expect("coloring, all uncolored", wl.check("graph.greedy_coloring", None, dict.fromkeys(verts.tolist(), -1)), False)
    ok &= _expect("coloring, an edge inside class 0",
                  wl.check("graph.greedy_coloring", None, dict.fromkeys(verts.tolist(), 0)), True)
    for op, col in (("jpeg", "max_gray"), ("png", "min_gray"), ("wav", "total_energy")):
        stats = wl.want[f"rowmap.{op}"].copy()
        ok &= _expect(f"{op} stats, correct", wl.check(f"rowmap.{op}", None, stats), False)
        stats.loc[3, col] += 1
        ok &= _expect(f"{op} stats, one sample off", wl.check(f"rowmap.{op}", None, stats), True)
    sess = wl.want["rowmap.sessionize"]
    ok &= _expect("sessions, correct", wl.check("rowmap.sessionize", None, sess.sample(frac=1, random_state=1)), False)
    # the anonymous visitor folded one event at a time: every anonymous
    # event becomes its own session
    anon = np.isnan(wl.ev.user_id)
    split = pd.DataFrame({"user_id": float(wl.ANON), "session_id": 0, "start_us": wl.ev.ts_us[anon],
                          "end_us": wl.ev.ts_us[anon], "n_events": 1})
    bad = pd.concat([sess[sess["user_id"] != wl.ANON], split], ignore_index=True)
    ok &= _expect("sessions, anonymous visitor split per event", wl.check("rowmap.sessionize", None, bad), True)
    return ok


def main() -> int:
    scratch = os.path.join(os.path.dirname(HERE), ".bench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=scratch)
    try:
        ok = read_checks(work) & compute_checks()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("self-test", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
