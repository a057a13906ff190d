"""Layered benchmark of the pagerank_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process, one ``local[nproc]`` session with the engine's default
configuration. A run generates the workload's inputs from ``--seed``,
computes every oracle, starts the session and makes one untimed-as-run
warm-up pass (session start + warm-up = ``setup_s``). It then repeats
timed passes until ``--seconds`` have elapsed (at least one), checking
every call's output. With ``--trace 1`` a further pass runs with
spans around every call into the engine's layers, and the per-layer
numbers come from Spark's monitoring REST API (see ``trace.py``).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, the per-layer ones with ``--trace 1``). Lines
before it print every metric with its unit and sample count. A full
report, spans included, is written to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

OPS = ("pagerank", "cc", "lpa", "msf", "matching", "hitting_time",
       "triangle", "k_truss")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory_mb() -> int:
    """A sixth of physical RAM, between 1 and 8 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return max(1024, min(8192, total_kb // 1024 // 6))


def _configure(work: str) -> None:
    """Environment for the JVM and its Python workers, set before the
    session starts: workers import ``pagerank_spark`` from this checkout
    whatever the cwd, and Spark's local dirs and every temp file stay
    under ``work``."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_DRIVER_MEMORY"] = f"{_driver_memory_mb()}m"
    os.chdir(work)


class RssMonitor:
    """Peak resident set of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc every 0.5 s."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Pass:
    """One pass over a workload's calls: wall times, failures and the
    state the calls shared."""

    def __init__(self):
        self.seconds = 0.0
        self.op_seconds: dict[str, float] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.ctx: dict = {}


def run_pass(spark, workload, tracer=None) -> Pass:
    from perfbench.trace import Tracer

    tracer = tracer or Tracer(spark, enabled=False)
    p = Pass()
    ctx = p.ctx
    t_pass = time.perf_counter()
    for op in workload.ops:
        p.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span(f"{workload.name}:{op.name}",
                             group=f"{workload.name}:{op.name}"):
                out = op.run(spark, ctx)
            p.op_seconds[op.name] = time.perf_counter() - t0
            why = op.check(out) if op.check else None
        except Exception:  # a failing call is counted, never dropped
            p.op_seconds[op.name] = time.perf_counter() - t0
            why = traceback.format_exc(limit=3)
        if why:
            p.failures.append(f"{op.name}: {why}")
    p.seconds = time.perf_counter() - t_pass
    return p


def _stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(name, seed, seconds, trace, sizes=None, work=None, mutate=None):
    """Run one workload: returns ``(report, passes, workload)``, where
    ``passes[0]`` is the cold pass. ``mutate`` (self-test only) is
    applied to the prepared workload, e.g. to break an oracle."""
    from perfbench import workloads
    from perfbench.trace import Tracer, attribute, pagerank_phases
    from pagerank_spark.session import get_spark

    cores = _cores()
    t_prep = time.perf_counter()
    w = workloads.prepare(name, seed, work, sizes)
    if mutate:
        mutate(w)
    prep_s = time.perf_counter() - t_prep

    passes: list[Pass] = []
    traced = None
    with RssMonitor() as rss:
        t0 = time.perf_counter()
        spark = get_spark(master=f"local[{cores}]")
        session_s = time.perf_counter() - t0
        try:
            t_measure = time.perf_counter()
            passes.append(run_pass(spark, w))
            # warm passes: while --seconds last, and one to compare the
            # traced pass with
            while (time.perf_counter() - t_measure < seconds
                   or (trace and len(passes) < 2)):
                passes.append(run_pass(spark, w))
            peak_rss = rss.peak
            if trace:
                tracer = Tracer(spark, enabled=True)
                with tracer.instrument():
                    traced = run_pass(spark, w, tracer)
                layers = attribute(spark, tracer.spans, cores)
        finally:
            _stop_session(spark)

    guards = w.guards + (w.observed(passes[0].ctx) if w.observed else [])
    for desc, holds in guards:
        if not holds:
            print(f"PATH GUARD: {name} no longer takes the path it was "
                  f"built for: {desc}", file=sys.stderr)
    everything = passes + ([traced] if traced else [])
    failures = [f for p in everything for f in p.failures]
    report = {
        "workload": name, "seed": seed, "cores": cores,
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "stats": w.stats,
        "guards": [{"path": d, "holds": h} for d, h in guards],
        "prepare_inputs_s": prep_s,
        "session_s": session_s,
        "passes": [{"seconds": p.seconds, "ops": p.op_seconds} for p in passes],
        "attempted": sum(p.attempted for p in everything),
        "failed": len(failures),
        "failures": failures,
        "peak_rss_mb": peak_rss / 2**20,
    }
    if trace:
        report["traced_pass"] = {"seconds": traced.seconds,
                                 "ops": traced.op_seconds}
        report["spans"] = [s.__dict__ for s in tracer.spans]
        report["layers"] = layers
        report["pagerank_phases"] = pagerank_phases(tracer.spans)
    return report, passes, w


def end_to_end(report, passes, w) -> dict[str, tuple[float, str, int]]:
    """End-to-end figures, name -> (value, unit, samples). ``run_s`` and
    the per-operator times are the cold pass, as a freshly submitted job
    sees them; the ``warm_`` figures are medians over any later passes.
    Per-operator figures exist only for operators the workload calls."""
    cold, warm = passes[0], passes[1:]
    out = {
        "setup_s": (report["session_s"], "s", 1),
        "run_s": (cold.seconds, "s", 1),
        "peak_rss_mb": (report["peak_rss_mb"], "MB", 1),
        "failed_ratio": (report["failed"] / report["attempted"], "ratio",
                         report["attempted"]),
    }
    for op in OPS:
        if op in cold.op_seconds:
            out[f"{op}_s"] = (cold.op_seconds[op], "s", 1)
    iters = w.stats.get("pagerank_iterations")  # rmat_large only
    if iters:
        out["pagerank_edges_per_s"] = (
            w.stats["edges"] * iters / out["pagerank_s"][0], "1/s", 1)
    if warm:
        out["warm_run_s"] = (
            statistics.median(p.seconds for p in warm), "s", len(warm))
        for op in OPS:
            if op in cold.op_seconds:
                out[f"warm_{op}_s"] = (
                    statistics.median(p.op_seconds[op] for p in warm), "s",
                    len(warm))
    return out


def per_layer(report) -> dict[str, tuple[float | None, str]]:
    """The per-layer figures of the traced pass. An operator the workload
    does not call reports 0 work; an unreachable REST API reports None."""
    from perfbench.trace import PER_OP

    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "utilisation": "ratio", "shuffle_read_bytes": "B",
             "shuffle_write_bytes": "B", "spill_bytes": "B",
             "python_bytes": "B"}
    layers = report["layers"]
    out: dict[str, tuple[float | None, str]] = {}
    wl = report["workload"]
    for op in OPS:
        got = None if layers is None else layers.get(f"{wl}:{op}", {})
        for f in PER_OP:
            v = None if got is None else got.get(f, 0)
            out[f"{op}.{f}"] = (v, units.get(f, "s"))
    spans = report["spans"]
    out["session.start_s"] = (report["session_s"], "s")
    out["sources.read_s"] = (
        sum(s["end"] - s["start"] for s in spans
            if s["name"] == "sources.read_snap_edges"), "s")
    for k, v in report["pagerank_phases"].items():
        out[k] = (v if v is not None else 0.0, "s")
    # traced pass against the median warm untraced pass of the same run
    base = statistics.median(p["seconds"] for p in report["passes"][1:])
    out["tracer.overhead_pct"] = (
        100.0 * (report["traced_pass"]["seconds"] - base) / base, "%")
    return out


def main(argv=None, sizes=None, mutate=None) -> int:
    from perfbench.workloads import SIZES

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cwd = os.getcwd()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    _configure(work)
    try:
        report, passes, w = measure(
            args.workload, args.seed, args.seconds, args.trace,
            sizes=sizes, work=work, mutate=mutate,
        )
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    ), "w") as f:
        json.dump(report, f, indent=1, default=str)

    for f in report["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    e2e = end_to_end(report, passes, w)
    for k, (v, unit, n) in e2e.items():
        print(f"{k:24s} {v:14.6g} {unit:6s} n={n}")
    metrics: dict[str, dict] = {}
    if args.trace:
        layers = per_layer(report)
        for k, (v, unit) in layers.items():
            print(f"{k:32s} {v!s:>14} {unit}")
        if any(v is None for v, _u in layers.values()):
            print("per-layer metrics unmeasured: monitoring REST API "
                  "unreachable", file=sys.stderr)
            return 3
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        for k in ("run_s", "setup_s"):
            v, unit, _n = e2e[k]
            metrics[k] = {"value": v, "unit": unit}
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
