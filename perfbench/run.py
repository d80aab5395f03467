"""Seeded end-to-end benchmark of duckdb_graphar_spark.

    python3 perfbench/run.py --workload read --seed 1 --seconds 15 --trace 0

Run from the repository root.  One process, one Spark session
(``local[4]``), one client thread.  Set-up generates the workload's
inputs from ``--seed`` and writes them as a GraphAr graph through the
distributed writer, and, where the workload asks for it, runs one
untimed warm-up pass; then whole passes over the workload's op sequence run
until ``--seconds`` is used up (at least one pass, and no pass is started
that is not expected to finish in time).  Every op's output is checked
against an independent computation afterwards.  The last line of stdout
is one JSON object: ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` adds traced passes and one more untraced pass and reports
the per-layer metrics.  Scratch files live under ``.bench_work/`` in the
repository root and are removed at exit; span traces are kept in
``.bench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4


def _env(work: str) -> None:
    """Confine Spark, the JVM and the Python workers to ``work``; must run
    before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
        ),
    )


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.extend(children.get(p, []))
        todo.extend(children.get(p, []))
    return out


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def _percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Runner:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    # -- session ----------------------------------------------------------

    def start(self):
        import duckdb_graphar_spark as dgs
        from duckdb_graphar_spark import graphar

        t = time.perf_counter()
        spark = dgs.get_spark("perfbench")
        dgs.ship_to_workers(spark)
        graphar.register(spark)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.jvm = spark.sparkContext._gateway.proc
        return time.perf_counter() - t

    def stop(self):
        """Stop Spark, then wait for the JVM and every Python worker."""
        procs = _descendants(os.getpid())
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        if self.jvm is not None:
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait(timeout=30)
        deadline = time.time() + 30
        for pid in procs:
            while os.path.exists(f"/proc/{pid}") and _state(pid) != "Z":
                if time.time() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    break
                time.sleep(0.05)

    # -- one run ------------------------------------------------------------

    def run(self) -> dict:
        from tracing import Tracer
        from workloads import WORKLOADS

        t_session = self.start()
        tracer = Tracer(self.spark, enabled=False)
        wl = WORKLOADS[self.workload](self.spark, self.seed, tracer)
        t = time.perf_counter()
        wl.generate()
        t_gen = time.perf_counter() - t
        tracer.enabled = self.trace
        t = time.perf_counter()
        out_dir = os.path.join(self.work, "graph")
        writer = wl.write(out_dir)
        t_write = time.perf_counter() - t
        tracer.enabled = False
        results = []  # (op, key, result)
        t = time.perf_counter()
        warm = self._passes(wl, tracer, results, 0, 0) if wl.WARM_UP else []
        t_warm = time.perf_counter() - t
        setup_s = t_session + t_gen + t_write + t_warm
        print(
            f"setup: session {t_session:.2f} s, generate {t_gen:.2f} s, write {t_write:.2f} s, "
            f"warm-up {t_warm:.2f} s",
            file=sys.stderr,
        )

        plain = self._passes(wl, tracer, results, self.seconds, len(warm))
        traced = []
        if self.trace:
            # the traced passes and one more untraced pass after them run
            # equally warm; their difference is the tracing overhead
            tracer.enabled = True
            traced = self._passes(wl, tracer, results, self.seconds, len(warm) + len(plain))
            tracer.enabled = False
            plain = self._passes(wl, tracer, results, 0, len(warm) + len(plain) + len(traced))
        peak = _peak_rss_mb([os.getpid()] + _descendants(os.getpid()))

        self._check(wl, "writer", out_dir, None)
        wl.expected()
        try:
            for op, key, res in results:
                self._check(wl, op, key, res)
        finally:
            wl.close()

        if not self.trace:
            lat = [ms for p in plain for name, ms in p["lat_ms"] if name.startswith(wl.LATENCY_OPS)]
            metrics = {
                "wall_s": (statistics.median(p["wall"] for p in plain), "s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (peak, "MB"),
                "rows_per_s": (statistics.median(p["rows"] / p["wall"] for p in plain), "1/s"),
                "op_p50_ms": (_percentile(lat, 0.5), "ms"),
                "op_p90_ms": (_percentile(lat, 0.9), "ms"),
            }
        else:
            from layers import per_layer

            metrics = per_layer(tracer, plain, traced, t_write, writer)
            os.makedirs(os.path.join(ROOT, ".bench_traces"), exist_ok=True)
            tracer.dump(
                os.path.join(ROOT, ".bench_traces", f"{self.workload}-{self.seed}.json"),
                {"workload": self.workload, "seed": self.seed, "metrics": metrics},
            )
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _passes(self, wl, tracer, results, seconds: float, first: int) -> list[dict]:
        passes: list[dict] = []
        t_start = time.perf_counter()
        while True:
            index = first + len(passes)
            tracer.start_pass(index)
            rec = {"lat_ms": [], "rows": 0}
            t_pass = time.perf_counter()
            for name, fn, arg in wl.ops(index):
                t = time.perf_counter()
                self.attempted += 1
                try:
                    with tracer.op(name):
                        key, res, rows = fn(arg)
                except Exception:
                    self._fail(name, traceback.format_exc(limit=3))
                    continue
                finally:
                    ms = (time.perf_counter() - t) * 1e3
                    rec["lat_ms"].append((name, ms))
                    print(f"pass {index} {name} {ms:.0f} ms", file=sys.stderr)
                rec["rows"] += rows
                results.append((name, key, res))
            rec["wall"] = time.perf_counter() - t_pass
            passes.append(rec)
            used = time.perf_counter() - t_start
            if used + statistics.median(p["wall"] for p in passes) > seconds:
                return passes

    def _check(self, wl, op, key, result):
        try:
            if op == "writer":
                self.attempted += 1
                reason = wl.check_written(key)
            else:
                reason = wl.check(op, key, result)
        except Exception:
            reason = traceback.format_exc(limit=3)
        if reason is not None:
            self._fail(op, reason)

    def _fail(self, op: str, reason: str):
        self.failed += 1
        self.failures.append(f"{op}: {reason.strip()}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if not os.path.isdir(os.path.join(ROOT, "duckdb_graphar_spark")):
        print(f"duckdb_graphar_spark not found under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    runner = Runner(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        out = runner.run()
    finally:
        if hasattr(runner, "spark"):
            runner.stop()
        shutil.rmtree(work, ignore_errors=True)
    for line in runner.failures:
        print("FAILED", line[:2000])
    print(
        f"{args.workload} seed={args.seed}: attempted={out['attempted']} failed={out['failed']} "
        f"error_rate={out['failed'] / out['attempted']:.4f}"
    )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
