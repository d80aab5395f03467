"""The benchmark's workloads: inputs, one pass of ops, and the checks.

Every workload is a closed loop with one client: the ops of a pass run
one after another on the driver thread, each waiting for its result.
An op returns ``(key, result, rows)``: the result is checked against
``oracle`` after the timed passes, ``rows`` is the number of input rows
the op consumed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo

import gen
import oracle
from oracle import M1, M2, M3

from duckdb_graphar_spark.graphar import GraphInfo, read_edges, read_vertices
from duckdb_graphar_spark.graphar.datasource import GraphArDataSource
from duckdb_graphar_spark.graphar.spark_writer import write_graph_dist
from duckdb_graphar_spark.operators import graph as G
from duckdb_graphar_spark.operators import multimodal as MM
from duckdb_graphar_spark.operators.events import sessionize_capped

VIDX, SRC, DST = "_graphArVertexIndex", "_graphArSrcIndex", "_graphArDstIndex"
TRIPLE = ("Person", "knows", "Person")
CHUNK = 1024  # vertices per chunk, and per CSR/CSC part


def _disk_usage(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class Workload:
    name = ""
    LAYOUTS = ("src", "dst")  # CSR and CSC
    WARM_UP = False  # one untimed pass before the timed ones, part of set-up
    LATENCY_OPS = ""  # name prefix of the ops in op_p50_ms / op_p90_ms

    def __init__(self, spark, seed: int, tracer):
        self.spark, self.seed, self.tr = spark, seed, tracer
        self.yaml: str | None = None

    def generate(self) -> None:
        raise NotImplementedError

    def frames(self) -> tuple[dict, dict, dict, int]:
        """(vertex frames, edge frames, vertex property groups, input bytes)."""
        raise NotImplementedError

    def write(self, out_dir: str) -> dict:
        """Write the inputs as a GraphAr graph through the distributed
        writer; return the writer's counters."""
        vertices, edges, groups, user_bytes = self.frames()
        with self.tr.span("writer.write"):
            self.yaml = write_graph_dist(
                out_dir, "G", vertices, edges,
                vertex_chunk_size=CHUNK, aligned_chunk_size=CHUNK,
                vertex_property_groups=groups, layouts=self.LAYOUTS,
            )
        files, size = _disk_usage(out_dir)
        return {"writer.files_written": files, "writer.bytes_per_user_byte": size / user_bytes}

    def meta(self) -> GraphInfo:
        with self.tr.span("metadata.load"):
            return GraphInfo.load(self.yaml)

    def ops(self, pass_index: int) -> list:
        raise NotImplementedError

    def expected(self) -> None:
        """Compute every expected result (after the timed passes)."""
        raise NotImplementedError

    def check(self, op: str, key, result) -> str | None:
        """None when ``result`` matches the independent computation,
        else a one-line reason."""
        raise NotImplementedError

    def written(self) -> dict:
        """What the chunk files of a written graph must hold: rows per
        vertex property group, (rows, sum of w) per edge layout."""
        g = self.g
        out = {f"vertex/Person/{'_'.join(grp)}": g.n_vertices for grp in self.PERSON_GROUPS}
        for layout in self.LAYOUTS:
            name = "ordered_by_source" if layout == "src" else "ordered_by_dest"
            out[f"edge/Person_knows_Person/{name}"] = (len(g.src), int(g.weight.sum()))
        return out

    def check_written(self, root: str) -> str | None:
        got, want = oracle.written_totals(root), self.written()
        return None if got == want else f"chunk files hold {got}, generator made {want}"

    def close(self) -> None:
        pass

    # -- shared op shapes ---------------------------------------------------

    def _reader_action(self, build, action):
        with self.tr.span("reader.build"):
            df = build()
        with self.tr.span("reader.exec"):
            res = action(df)
        return df, res

    def _ds(self, **opts):
        r = self.spark.read.format("graphar").option("path", self.yaml)
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    def _ds_plan(self, opts: dict, filters: list) -> None:
        """Partitions and chunk rows the data source plans for a scan:
        the same planning calls Spark makes, replayed from the public
        class (traced runs only)."""
        if not self.tr.enabled:
            return
        import pyarrow.parquet as pq

        ds = GraphArDataSource({"path": self.yaml, **opts})
        reader = ds.reader(ds.schema())
        list(reader.pushFilters(filters))
        parts = reader.partitions()
        scanned = sum(pq.ParquetFile(p.groups[0][0]).metadata.num_rows * len(p.groups) for p in parts)
        self.tr.add("datasource.partitions", len(parts))
        self.tr.add("datasource.rows_scanned", scanned)


# ------------------------------------------------------------------- read


def _vertex_sums(df):
    i, lab, sc = F.col(VIDX), F.length("label"), F.round(F.col("score") * 1000).cast("long")
    return df.agg(
        F.count(F.lit(1)), F.sum(i), F.sum("age"), F.sum(lab),
        F.sum((i % M1) * F.col("age")), F.sum((i % M2) * lab), F.sum(sc), F.sum((i % M3) * sc),
    )


def _edge_sums(df):
    s, d, w = F.col(SRC), F.col(DST), F.col("w")
    return df.agg(
        F.count(F.lit(1)), F.sum(s), F.sum(d), F.sum(w), F.sum((s % M1) * w), F.sum((d % M2) * w)
    )


class Read(Workload):
    """GraphAr read path: full scans and point lookups, through both the
    DataFrame reader and the ``format("graphar")`` data source."""

    name = "read"
    V, E = 4_096, 10_000
    PERSON_GROUPS = [["label", "age"], ["score"]]
    # the first pass of a session takes twice as long as later ones (JIT,
    # Python workers); the timed passes start warm
    WARM_UP = True
    # the latency percentiles are over the point lookups: scans take 1.5-2x
    # as long, and mixed in they put p50 on the gap between the two groups
    LATENCY_OPS = "lookup."
    HOT_CHUNKS = 2  # of the 4 CSR/CSC parts per layout

    def generate(self):
        g = self.g = gen.power_law_graph(self.seed, self.V, self.E)
        rng = np.random.default_rng([self.seed, 4])
        n_chunks = -(-self.V // CHUNK)
        self.hot = rng.choice(n_chunks - 1, self.HOT_CHUNKS, replace=False)
        # lookup pools: with Zipf sources most vertices have no out-edge,
        # and about 9% have no in-edge; each pass draws a fixed number of
        # lookups from each pool, so its mix of empty and non-empty
        # results does not depend on the seed
        out_deg = np.bincount(g.src, minlength=self.V)
        self.pools = {
            "any": np.arange(self.V),
            "no_out": np.flatnonzero(out_deg == 0),
            "has_out": np.flatnonzero(out_deg > 0),
            "has_in": np.flatnonzero(np.bincount(g.dst, minlength=self.V) > 0),
        }

    def frames(self):
        g = self.g
        v = pd.DataFrame({VIDX: np.arange(g.n_vertices), "label": g.label, "age": g.age, "score": g.score})
        e = pd.DataFrame({SRC: g.src, DST: g.dst, "w": g.weight})
        user = v.memory_usage(deep=True).sum() + e.memory_usage().sum()
        return (
            {"Person": self.spark.createDataFrame(v)},
            {TRIPLE: self.spark.createDataFrame(e)},
            {"Person": self.PERSON_GROUPS},
            int(user),
        )

    def _vid(self, rng, pool: str, hot: bool) -> int:
        vids = self.pools[pool]
        if hot:
            vids = vids[np.isin(vids // CHUNK, self.hot)]
        return int(rng.choice(vids))

    def ops(self, pass_index):
        ops = [
            ("scan.reader_vertices", self._scan_reader_vertices, None),
            ("scan.reader_edges", self._scan_reader_edges, None),
            ("scan.ds_vertices", self._scan_ds_vertices, None),
            ("scan.ds_edges", self._scan_ds_edges, None),
            ("scan.degrees", self._scan_degrees, None),
        ]
        # power-law hubs through CSR, through the reader and through the
        # data source's pushed equality, and a vertex without out-edges
        # through the reader only (the data source fails on it, see
        # README); then vids alternating between the hot parts and all parts
        rng = np.random.default_rng([self.seed, 5, pass_index])
        hubs = self.g.hubs
        ops.append(("lookup.csr", self._lookup_csr, int(hubs[pass_index % 4])))
        ops.append(("lookup.csr", self._lookup_csr, int(hubs[4 + pass_index % 4])))
        ops.append(("lookup.ds_csr", self._lookup_ds_csr, int(hubs[8 + pass_index % 4])))
        for k, (name, fn, pool) in enumerate(
            [("lookup.csr", self._lookup_csr, "no_out"), ("lookup.ds_csr", self._lookup_ds_csr, "has_out"),
             ("lookup.csc", self._lookup_csc, "has_in"), ("lookup.csc", self._lookup_csc, "has_in"),
             ("lookup.ds_csc", self._lookup_ds_csc, "has_in"),
             ("lookup.vertex", self._lookup_vertex, "any"), ("lookup.vertex", self._lookup_vertex, "any"),
             ("lookup.vertex", self._lookup_vertex, "any"), ("lookup.ds_vertex", self._lookup_ds_vertex, "any")]
        ):
            ops.append((name, fn, self._vid(rng, pool, hot=(pass_index + k) % 2 == 0)))
        return ops

    # scans: (count, checksums...) reduced in Spark
    def _scan_reader_vertices(self, _):
        g = self.meta()
        df, row = self._reader_action(lambda: _vertex_sums(read_vertices(self.spark, g, "Person")), lambda d: d.collect()[0])
        self.tr.plan_metrics(df)
        self.tr.add("reader.rows_out", self.V)
        return None, tuple(row), self.V

    def _scan_reader_edges(self, _):
        g = self.meta()
        df, row = self._reader_action(lambda: _edge_sums(read_edges(self.spark, g, *TRIPLE)), lambda d: d.collect()[0])
        self.tr.plan_metrics(df)
        self.tr.add("reader.rows_out", self.E)
        return None, tuple(row), self.E

    def _scan_ds_vertices(self, _):
        with self.tr.span("datasource.build"):
            df = _vertex_sums(self._ds(type="Person"))
        with self.tr.span("datasource.exec"):
            row = df.collect()[0]
        self.tr.plan_metrics(df)
        self._ds_plan({"type": "Person"}, [])
        self.tr.add("datasource.rows_out", self.V)
        return None, tuple(row), self.V

    def _scan_ds_edges(self, _):
        opts = dict(zip(("src", "edge", "dst"), TRIPLE))
        with self.tr.span("datasource.build"):
            df = _edge_sums(self._ds(**opts))
        with self.tr.span("datasource.exec"):
            row = df.collect()[0]
        self.tr.plan_metrics(df)
        self._ds_plan(opts, [])
        self.tr.add("datasource.rows_out", self.E)
        return None, tuple(row), self.E

    def _scan_degrees(self, _):
        g = self.meta()

        def build():
            d = G.degrees_from_offsets(self.spark, g, *TRIPLE)
            return d.agg(F.count(F.lit(1)), F.sum("degree"), F.sum((F.col("grapharId") % M1) * F.col("degree")))

        df, row = self._reader_action(build, lambda d: d.collect()[0])
        self.tr.plan_metrics(df)
        self.tr.add("reader.rows_out", self.V)
        return None, tuple(row), self.V

    # lookups: rows collected to the driver, summarized in numpy
    @staticmethod
    def _edge_summary(t, vid, side):
        key = np.asarray(t.column(SRC if side == "src" else DST), dtype=np.int64)
        other = np.asarray(t.column(DST if side == "src" else SRC), dtype=np.int64)
        w = np.asarray(t.column("w"), dtype=np.int64)
        stray = int((key != vid).sum())
        return oracle.point_summary(other, w) + (stray,)

    def _lookup_edges(self, vid, side):
        g = self.meta()
        kw = {"src_vid": vid} if side == "src" else {"dst_vid": vid}
        df, t = self._reader_action(lambda: read_edges(self.spark, g, *TRIPLE, **kw), lambda d: d.toArrow())
        self.tr.plan_metrics(df)
        self.tr.add("reader.rows_out", t.num_rows)
        return vid, self._edge_summary(t, vid, side), t.num_rows

    def _lookup_csr(self, vid):
        return self._lookup_edges(vid, "src")

    def _lookup_csc(self, vid):
        return self._lookup_edges(vid, "dst")

    def _lookup_ds_edges(self, vid, side):
        opts = dict(zip(("src", "edge", "dst"), TRIPLE))
        col = SRC if side == "src" else DST
        with self.tr.span("datasource.build"):
            df = self._ds(**opts).filter(F.col(col) == vid)
        with self.tr.span("datasource.exec"):
            t = df.toArrow()
        self.tr.plan_metrics(df)
        self._ds_plan(opts, [EqualTo((col,), vid)])
        self.tr.add("datasource.rows_out", t.num_rows)
        return vid, self._edge_summary(t, vid, side), t.num_rows

    def _lookup_ds_csr(self, vid):
        return self._lookup_ds_edges(vid, "src")

    def _lookup_ds_csc(self, vid):
        return self._lookup_ds_edges(vid, "dst")

    def _lookup_vertex(self, vid):
        g = self.meta()
        df, t = self._reader_action(lambda: read_vertices(self.spark, g, "Person", vid=vid), lambda d: d.toArrow())
        self.tr.plan_metrics(df)
        self.tr.add("reader.rows_out", t.num_rows)
        return vid, [tuple(r.values()) for r in t.to_pylist()], t.num_rows

    def _lookup_ds_vertex(self, vid):
        with self.tr.span("datasource.build"):
            df = self._ds(type="Person").filter(F.col(VIDX) == vid)
        with self.tr.span("datasource.exec"):
            t = df.toArrow()
        self.tr.plan_metrics(df)
        self._ds_plan({"type": "Person"}, [EqualTo((VIDX,), vid)])
        self.tr.add("datasource.rows_out", t.num_rows)
        return vid, [tuple(r.values()) for r in t.to_pylist()], t.num_rows

    def expected(self):
        # lookups are answered in check() from the same DuckDB tables
        self.db = oracle.GraphArOracle(os.path.dirname(self.yaml), CHUNK)
        self.want = {
            "vertices": self.db.vertex_scan(),
            "edges": self.db.edge_scan(),
            "degrees": self.db.degree_scan(self.V),
        }

    def check(self, op, key, result):
        w = self.want
        if op in ("scan.reader_vertices", "scan.ds_vertices"):
            exp = w["vertices"]
        elif op in ("scan.reader_edges", "scan.ds_edges"):
            exp = w["edges"]
        elif op == "scan.degrees":
            exp = w["degrees"]
        elif op in ("lookup.csr", "lookup.ds_csr"):
            exp = self.db.out_edges([key])[key] + (0,)
        elif op in ("lookup.csc", "lookup.ds_csc"):
            exp = self.db.in_edges([key])[key] + (0,)
        else:  # vertex lookups: (idx, label, age, score)
            label, age, score = self.db.vertices([key])[key]
            exp = [(key, label, age, score)]
        got = tuple(int(x) for x in result) if isinstance(result, tuple) else result
        exp = tuple(int(x) for x in exp) if isinstance(exp, tuple) else exp
        return None if got == exp else f"got {got}, expected {exp}"

    def close(self):
        if getattr(self, "db", None) is not None:
            self.db.close()


# ---------------------------------------------------------------- compute


class Compute(Workload):
    """Operators over GraphAr inputs: iterative graph operators on an edge
    list read through the reader, media codecs over documents read through
    the reader, and capped sessionization of events that include anonymous
    (null ``user_id``) traffic, keyed as one visitor (``ANON``) before
    ``sessionize_capped``: its per-user fold is not null-safe (README,
    known defects)."""

    name = "compute"
    V, E = 5_000, 20_000
    PERSON_GROUPS = [["age"]]
    LAYOUTS = ("src",)  # every op here reads the CSR layout
    # enough rounds that every operator's lineage cut runs and feeds a
    # later round: BFS levels cut after level 4, sssp after round 2, kcore
    # every round, coloring eagerly per class
    K, COLORS, COLOR_ROUNDS, BFS_DEPTH, SSSP_ITERS, PR_ITERS, KCORE_ITERS = 3, 1, 1, 5, 4, 2, 2
    DOCS, EVENTS, USERS, NULL_SHARE = 500, 5_000, 250, 0.02
    ANON = -1  # user id of the anonymous events

    def generate(self):
        self.g = gen.power_law_graph(self.seed, self.V, self.E)
        rng = np.random.default_rng([self.seed, 6])
        self.source = int(self.g.hubs[0])
        # BFS starts where the traversal lasts all BFS_DEPTH levels; from a
        # hub the graph is covered in 3
        self.deep = gen.deep_source(self.g, self.seed, self.BFS_DEPTH)
        self.target = int(rng.integers(self.V))
        self.docs = gen.documents(self.seed, self.DOCS)
        self.ev = gen.events(self.seed, self.EVENTS, self.USERS, self.NULL_SHARE)

    def frames(self):
        # write_graph_dist cannot store a nullable int64 column that holds
        # nulls (its pandas->Arrow step sees NaN), so events enter Spark
        # straight from the generator
        ev = pd.DataFrame({
            "user_id": pd.array(np.where(np.isnan(self.ev.user_id), None, self.ev.user_id), dtype="Int64"),
            "ts_us": self.ev.ts_us,
            "event_id": np.arange(self.EVENTS, dtype=np.int64),
        })
        self.events = self.spark.createDataFrame(ev).select(
            "user_id", F.timestamp_micros("ts_us").alias("ts"), "event_id"
        )
        g = self.g
        v = pd.DataFrame({VIDX: np.arange(g.n_vertices), "age": g.age})
        e = pd.DataFrame({SRC: g.src, DST: g.dst, "w": g.weight})
        d = pd.DataFrame({VIDX: np.arange(self.DOCS), "text": self.docs.text})
        user = v.memory_usage().sum() + e.memory_usage().sum() + d.memory_usage(deep=True).sum()
        return (
            {"Person": self.spark.createDataFrame(v), "Doc": self.spark.createDataFrame(d)},
            {TRIPLE: self.spark.createDataFrame(e)},
            {"Person": self.PERSON_GROUPS},
            int(user),
        )

    def written(self):
        return {**super().written(), "vertex/Doc/text": self.DOCS}

    def _edges(self, columns=()):
        g = self.meta()
        with self.tr.span("reader.build"):
            return read_edges(self.spark, g, *TRIPLE, columns=list(columns))

    def _docs(self):
        g = self.meta()
        with self.tr.span("reader.build"):
            return read_vertices(self.spark, g, "Doc").withColumnRenamed(VIDX, "doc_id")

    def _codec(self, encode, stats):
        df = stats(encode(self._docs()))
        t = df.toArrow()
        self.tr.plan_metrics(df)
        self.tr.add("reader.rows_out", self.DOCS)
        return t.to_pandas().sort_values("doc_id", ignore_index=True)

    def _sessionize(self):
        events = self.events.withColumn("user_id", F.coalesce("user_id", F.lit(self.ANON)))
        df = sessionize_capped(events).select(
            "user_id", "session_id", F.unix_micros("session_start").alias("start_us"),
            F.unix_micros("session_end").alias("end_us"), "n_events",
        )
        t = df.toArrow()
        self.tr.plan_metrics(df)
        return t.to_pandas()

    def ops(self, pass_index):
        s, d, t = self.source, self.deep, self.target
        graph = {
            "graph.bfs_length": lambda: G.bfs_length(self._edges(), d, t),
            "graph.bfs_levels": lambda: [
                tuple(r) for r in G.bfs_levels(self._edges(), d, max_depth=self.BFS_DEPTH).collect()
            ],
            "graph.sssp": lambda: _pairs(G.sssp(self._edges(["w"]), s, n_iters=self.SSSP_ITERS)),
            "graph.kcore": lambda: _pairs(G.kcore(self._edges(), self.K, n_iters=self.KCORE_ITERS)),
            "graph.greedy_coloring": lambda: _pairs(
                G.greedy_coloring(self._edges(), colors=self.COLORS, rounds=self.COLOR_ROUNDS)
            ),
            "graph.pagerank": lambda: _pairs(
                G.pagerank(
                    self._edges(), read_vertices(self.spark, self.yaml, "Person", columns=[]),
                    n_iters=self.PR_ITERS, id_col=VIDX,
                )
            ),
        }
        rowmap = {
            "rowmap.jpeg": lambda: self._codec(MM.encode_text_jpeg, MM.jpeg_gray_stats),
            "rowmap.png": lambda: self._codec(MM.encode_text_png, MM.png_gray_stats),
            "rowmap.wav": lambda: self._codec(MM.encode_text_wav, MM.wav_stats),
            "rowmap.sessionize": self._sessionize,
        }
        rows = {"rowmap.sessionize": self.EVENTS}
        return [
            (name, lambda _, f=f, n=rows.get(name, self.DOCS if name in rowmap else self.E): (None, f(), n), None)
            for name, f in {**graph, **rowmap}.items()
        ]

    def expected(self):
        g = self.g
        dg = oracle.digraph(g.src, g.dst)
        s, d, text = self.source, self.deep, self.docs.text
        anon = np.where(np.isnan(self.ev.user_id), self.ANON, self.ev.user_id)
        self.want = {
            "graph.bfs_length": oracle.bfs_length(dg, d, self.target),
            "graph.bfs_levels": oracle.bfs_levels(dg, d, self.BFS_DEPTH),
            "graph.sssp": oracle.sssp(g.src, g.dst, g.weight, s, self.SSSP_ITERS),
            "graph.kcore": oracle.kcore(g.src, g.dst, self.K, self.KCORE_ITERS),
            "graph.pagerank": oracle.pagerank(g.src, g.dst, self.V, self.PR_ITERS),
            "rowmap.jpeg": oracle.jpeg_stats(text),
            "rowmap.png": oracle.png_stats(text),
            "rowmap.wav": oracle.wav_stats(text),
            "rowmap.sessionize": _session_order(oracle.sessions(anon, self.ev.ts_us)),
        }

    def check(self, op, key, result):
        g = self.g
        if op == "graph.greedy_coloring":
            return "; ".join(oracle.coloring_violations(g.src, g.dst, self.COLORS, result)) or None
        exp = self.want[op]
        if op.startswith("rowmap."):
            return _frame_diff(_session_order(result) if op == "rowmap.sessionize" else result, exp)
        if op == "graph.pagerank":
            got = np.full(self.V, np.nan)
            got[list(result)] = list(result.values())
            ok = len(result) == self.V and np.allclose(got, exp, rtol=0, atol=1e-9)
            return None if ok else f"max |diff| {np.nanmax(np.abs(got - exp))}, {len(result)} ranks"
        if op == "graph.bfs_levels":
            result = [(int(d), int(n)) for d, n in result]
        if result == exp:
            return None
        if isinstance(exp, dict):
            diff = {k for k in set(exp) | set(result) if exp.get(k) != result.get(k)}
            return f"{len(diff)} of {len(exp)} entries differ"
        return f"got {result}, expected {exp}"


def _pairs(df) -> dict:
    t = df.toArrow()
    return dict(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))


def _frame_diff(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    if len(got) != len(exp):
        return f"{len(got)} rows, expected {len(exp)}"
    for c in exp.columns:
        a = got[c].to_numpy(dtype=np.float64, na_value=np.nan)
        b = exp[c].to_numpy(dtype=np.float64, na_value=np.nan)
        same = (a == b) | (np.isnan(a) & np.isnan(b))
        if not same.all():
            return f"column {c}: {int((~same).sum())} of {len(exp)} rows differ"
    return None


def _session_order(df: pd.DataFrame) -> pd.DataFrame:
    df = df.astype({"user_id": "float64"})
    return df.sort_values(["user_id", "session_id", "start_us"], na_position="first", ignore_index=True)


WORKLOADS = {w.name: w for w in (Read, Compute)}
