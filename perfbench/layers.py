"""Per-layer metrics of a traced run, from the tracer's spans and op
counters.  Each value is the median over the traced passes of its
per-pass total; layers a workload does not exercise report 0."""

from __future__ import annotations

import statistics

GRAPH_OPS = ("bfs_length", "bfs_levels", "sssp", "kcore", "greedy_coloring", "pagerank")
ROWMAP_OPS = ("jpeg", "png", "wav", "sessionize")
SPARK = (
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"), ("spark.executor_cpu_ms", "ms"), ("spark.gc_ms", "ms"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.driver_gap_ms", "ms"),
)

# name -> (unit, source): "span:<name>" sums span durations, "op:<name>"
# is one op's span, "jobs:<name>" its job count, "sum:<counter>" sums an
# op counter, "ratio:<a>/<b>" divides two counter sums
METRICS: dict[str, tuple[str, str]] = {
    "metadata.load_ms": ("ms", "span:metadata.load"),
    "reader.build_ms": ("ms", "span:reader.build"),
    "reader.exec_ms": ("ms", "span:reader.exec"),
    "reader.files_read": ("count", "sum:reader.files_read"),
    "reader.rows_scanned_per_row_out": ("ratio", "ratio:reader.rows_scanned/reader.rows_out"),
    "datasource.build_ms": ("ms", "span:datasource.build"),
    "datasource.exec_ms": ("ms", "span:datasource.exec"),
    "datasource.partitions": ("count", "sum:datasource.partitions"),
    "datasource.rows_scanned_per_row_out": ("ratio", "ratio:datasource.rows_scanned/datasource.rows_out"),
    **{f"graph.{op}_s": ("s", f"op:graph.{op}") for op in GRAPH_OPS},
    **{f"graph.{op}_jobs": ("count", f"jobs:graph.{op}") for op in GRAPH_OPS},
    **{f"rowmap.{op}_s": ("s", f"op:rowmap.{op}") for op in ROWMAP_OPS},
    "pyworker.boot_ms": ("ms", "sum:pyworker.boot_ms"),
    "pyworker.init_ms": ("ms", "sum:pyworker.init_ms"),
    "pyworker.total_ms": ("ms", "sum:pyworker.total_ms"),
    "pyworker.bytes_sent": ("bytes", "sum:pyworker.bytes_sent"),
    "pyworker.bytes_received": ("bytes", "sum:pyworker.bytes_received"),
    **{name: (unit, f"sum:{name}") for name, unit in SPARK},
}
WRITER = {"writer.write_s": "s", "writer.files_written": "count", "writer.bytes_per_user_byte": "ratio"}


def _pass_value(source: str, spans: list[dict], ops: list[dict]) -> float:
    kind, _, arg = source.partition(":")
    if kind == "span":
        return sum(s["end"] - s["start"] for s in spans if s["name"] == arg) * 1e3
    if kind == "op":
        return sum(s["end"] - s["start"] for s in spans if s["name"] == "op." + arg)
    if kind == "jobs":
        return sum(o["counters"].get("spark.jobs", 0) for o in ops if o["name"] == arg)
    if kind == "sum":
        return sum(o["counters"].get(arg, 0) for o in ops)
    num, den = arg.split("/")
    d = sum(o["counters"].get(den, 0) for o in ops)
    return sum(o["counters"].get(num, 0) for o in ops) / d if d else 0.0


def per_layer(tracer, plain: list[dict], traced: list[dict], write_s: float, writer: dict) -> dict:
    passes = sorted({s["pass"] for s in tracer.spans if s["pass"] >= 0})
    out = {}
    for name, (unit, source) in METRICS.items():
        vals = [
            _pass_value(
                source,
                [s for s in tracer.spans if s["pass"] == p],
                [o for o in tracer.ops if o["pass"] == p],
            )
            for p in passes
        ]
        out[name] = (statistics.median(vals), unit)
    values = {**writer, "writer.write_s": write_s}
    out.update({name: (values[name], unit) for name, unit in WRITER.items()})
    overhead = statistics.median(p["wall"] for p in traced) - statistics.median(p["wall"] for p in plain)
    out["trace.overhead_s"] = (overhead, "s")
    return out
