"""Graph-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pagerank_uniform --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root (the library is imported from the working
directory). A closed loop: one client, one algorithm run at a time, on a
``local[4]`` Spark session; every run's output is checked against an
independent oracle, untimed.

Phases of one invocation:

1. set-up (``setup_s``): Spark session start, a warm-up run of the same
   algorithm on a 1/8-size graph of the same shape, generation of the full
   input (repeated three times, the median counted) and one warm-up run on
   the full input;
2. measurement: algorithm runs back to back until ``--seconds`` have
   passed (at least three). ``job_s`` is the median of their wall times,
   each from the builder's ``run()`` call until the result frame is
   materialized on the driver (the library returns frames that are lazy
   beyond their last checkpoint);
3. with ``--trace 1`` the runs alternate untraced and traced (ABBA order);
   traced runs wrap the library's layer entry points (``tracer.py``) and
   diff Spark's status store (``sparkstats.py``), and the result carries
   the per-layer metrics plus the tracing overhead instead.

``BENCHMARK.json`` gates ``pagerank_uniform`` and ``wcc_powerlaw``;
``sssp_lineitem`` (three-landmark BFS on a TPC-H-shaped lineitem graph: the
Pregel control plane — voting, named messages, fixed per-superstep cost)
runs the same way by hand.

Scratch data (inputs, checkpoints, ``spark.local.dir``, the JVM temp dir)
lives under ``.perfbench_work/`` in the working directory and is deleted
at exit; the span recording of a traced invocation is kept under
``.perfbench_out/``. The last stdout line is the result; the line before
it is a ``detail`` record (input sizes, scratch file system, per-run
times and CPU steal).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracer  # noqa: E402
import workloads  # noqa: E402
from sparkstats import SparkCounters, steal_seconds  # noqa: E402

CORES = 4
WARMUP_SCALE = 1 / 8
# A fixed heap (initial = maximum) fills to its cap under any of the
# workloads, so peak resident memory reads the same run to run and moves
# only with what the engine keeps outside the heap or with a changed cap.
DRIVER_HEAP = "1g"
SETUP_REPEATS = 3
MIN_RUNS = 3  # untraced runs per untraced invocation
MIN_TRACED = 2  # runs of each kind per traced invocation
STOP_STARTING_S = 120  # never start a run this long after process start
DEADLINE_S = 170  # abort (no result line) past this
WORK_DIR, OUT_DIR = ".perfbench_work", ".perfbench_out"

END_TO_END_UNITS = {
    "job_s": "s",
    "edges_per_s": "edges/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "operator.prep_s": "s",
    "connected_components.rounds": "count",
    "connected_components.prep_s": "s",
    "connected_components.round_s": "s",
    "connected_components.local_s": "s",
    "connected_components.backprop_s": "s",
    "connected_components.edges_contracted": "count",
    "pregel.run_s": "s",
    "pregel.supersteps": "count",
    "pregel.superstep_s": "s",
    "pregel.driver_s": "s",
    "checkpointer.push_calls": "count",
    "checkpointer.push_s": "s",
    "checkpointer.evict_calls": "count",
    "checkpointer.evict_s": "s",
    "checkpointer.written_mb": "MB",
    "checkpointer.write_amp": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.jobs_per_superstep": "count",
    "spark.executor_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.busy_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
}


class Deadline(BaseException):
    """Raised by the alarm when an invocation overruns ``DEADLINE_S``."""


def _on_alarm(signum, frame):
    raise Deadline()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fs_type(path: str) -> str:
    """File system type of the mount holding ``path`` (longest prefix)."""
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mount, fstype = line.split()[:3]
            inside = path == mount or path.startswith(mount.rstrip("/") + "/")
            if inside and len(mount) > len(best):
                best, kind = mount, fstype
    return kind


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, name))
        for root, _, names in os.walk(path)
        for name in names
        if name.endswith(".parquet")
    )


def start_session(work: str):
    from pyspark.sql import SparkSession

    java_tmp = os.path.join(work, "jvm_tmp")
    os.makedirs(java_tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={java_tmp} -XX:-UsePerfData",
        )
        .config("spark.sql.shuffle.partitions", CORES)
        .config("spark.default.parallelism", CORES)
        .config("spark.local.dir", os.path.join(work, "spark_local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


class Bench:
    def __init__(self, args, workload, work: str):
        self.args = args
        self.wl = workload
        self.work = work
        self.runs = []
        self.spark = None
        self.counters = None
        self.tracer = None

    def setup(self) -> dict:
        from graphframes_rs_spark.sources.graphs import load_graph

        t0 = time.monotonic()
        self.spark = start_session(self.work)
        session_s = time.monotonic() - t0
        self.counters = SparkCounters(self.spark)

        # warm-up, part 1: the same algorithm on a small graph of the same
        # shape (class loading, code generation, JIT of the shared paths)
        t0 = time.monotonic()
        warm_dir = os.path.join(self.work, "warmup_input")
        self.wl.generate(self.spark, warm_dir, self.args.seed, WARMUP_SCALE)
        warm_graph = load_graph(self.spark, warm_dir)
        self.wl.run(warm_graph, os.path.join(self.work, "warmup_ckpt")).toPandas()
        warmup_s = time.monotonic() - t0

        self.in_dir = os.path.join(self.work, "input")
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.monotonic()
            self.wl.generate(self.spark, self.in_dir, self.args.seed, 1.0)
            self.graph = load_graph(self.spark, self.in_dir)
            gen_s.append(time.monotonic() - t0)

        # warm-up, part 2: one run on the input itself — paths only the
        # full size reaches (the contraction rounds of connected components
        # start above the engine's local-finish cut) stay cold otherwise,
        # and the first timed run would read about 50% slow
        t0 = time.monotonic()
        self.wl.run(self.graph, os.path.join(self.work, "warmup_ckpt_full")).toPandas()
        warmup_s += time.monotonic() - t0
        return {
            "session_s": session_s,
            "warmup_s": warmup_s,
            "generate_s": gen_s,
            "setup_s": session_s + warmup_s + statistics.median(gen_s),
        }

    def prepare_oracle(self) -> dict:
        ids, src, dst = workloads.load_arrays(self.in_dir)
        self.expected = self.wl.oracle(ids, src, dst)
        self.n_edges = len(src)
        self.edge_bytes = dir_bytes(os.path.join(self.in_dir, "edges"))
        return {
            "vertices": len(ids),
            "edges": self.n_edges,
            "edge_parquet_bytes": self.edge_bytes,
        }

    def one_run(self, traced: bool) -> dict:
        k = len(self.runs)
        ckpt = os.path.join(self.work, "ckpt", f"run{k}")
        run_id = f"run{k}"
        before = self.counters.snapshot() if traced else None
        scope = (
            self.tracer.tracing(run_id) if traced else contextlib.nullcontext()
        )
        rec = {"run": run_id, "traced": traced, "error": None}
        steal0 = steal_seconds()
        t0 = time.monotonic()
        try:
            with scope:
                out = self.wl.run(self.graph, ckpt).toPandas()
            rec["job_s"] = time.monotonic() - t0
        except Exception:  # a failed run is counted, the loop goes on
            rec["job_s"] = time.monotonic() - t0
            rec["error"] = traceback.format_exc(limit=3)
            print(rec["error"], file=sys.stderr)
        rec["steal_s"] = steal_seconds() - steal0
        if rec["error"] is None:
            rec["error"] = self.wl.check(out, self.expected)
        rec["ok"] = rec["error"] is None
        if traced:
            layers = tracer.layer_metrics(self.tracer.run_spans(run_id), rec["job_s"])
            layers.update(self.counters.delta(before))
            written_mb = layers.pop("written_mb")
            layers["checkpointer.written_mb"] = written_mb
            layers["checkpointer.write_amp"] = (
                written_mb * (1 << 20) / self.edge_bytes
            )
            steps = layers["pregel.supersteps"]
            layers["spark.jobs_per_superstep"] = (
                layers["spark.jobs"] / steps if steps else 0.0
            )
            layers["spark.busy_ratio"] = layers["spark.executor_s"] / (
                rec["job_s"] * CORES
            )
            rec["layers"] = layers
        shutil.rmtree(ckpt, ignore_errors=True)
        self.runs.append(rec)
        return rec

    def measure(self, t_process: float) -> None:
        if self.args.trace:
            self.tracer = tracer.Tracer()
            order = (False, True, True, False)  # ABBA: balances drift
        else:
            order = (False,)
        t0 = time.monotonic()
        while True:
            self.one_run(order[len(self.runs) % len(order)])
            plain = sum(not r["traced"] for r in self.runs)
            traced = len(self.runs) - plain
            done = (
                min(plain, traced) >= MIN_TRACED
                if self.args.trace
                else plain >= MIN_RUNS
            )
            if done and time.monotonic() - t0 >= self.args.seconds:
                break
            if time.monotonic() - t_process >= STOP_STARTING_S:
                break

    def result(self, setup: dict) -> dict:
        failed = sum(not r["ok"] for r in self.runs)
        if self.args.trace:
            plain = [r["job_s"] for r in self.runs if not r["traced"]]
            traced = [r for r in self.runs if r["traced"]]
            values = {
                name: statistics.median(r["layers"][name] for r in traced)
                for name in PER_LAYER_UNITS
                if name != "trace.overhead_ratio"
            }
            values["trace.overhead_ratio"] = (
                statistics.median(r["job_s"] for r in traced)
                / statistics.median(plain)
                - 1.0
            )
            units = PER_LAYER_UNITS
        else:
            job_s = statistics.median(
                [r["job_s"] for r in self.runs if r["ok"]]
                or [r["job_s"] for r in self.runs]
            )
            values = {
                "job_s": job_s,
                "edges_per_s": self.n_edges / job_s,
                "setup_s": setup["setup_s"],
                "peak_rss_mb": self.counters.peak_rss_mb(),
            }
            units = END_TO_END_UNITS
        return {
            "correct": failed == 0,
            "attempted": len(self.runs),
            "failed": failed,
            "metrics": {
                name: {"value": values[name], "unit": unit}
                for name, unit in units.items()
            },
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    t_process = time.monotonic()
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import graphframes_rs_spark  # noqa: F401  (the system under test)
    except ImportError as e:
        print(f"perfbench: cannot import the library from {root}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(
        root, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)

    bench = Bench(args, workloads.WORKLOADS[args.workload], work)
    try:
        setup = bench.setup()
        inputs = bench.prepare_oracle()
        bench.measure(t_process)
        result = bench.result(setup)
        if args.trace:
            os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
            spans_path = os.path.join(
                root, OUT_DIR, f"spans-{args.workload}-{args.seed}.json"
            )
            with open(spans_path, "w") as f:
                json.dump({"runs": bench.runs, "spans": bench.tracer.spans}, f)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "inputs": inputs,
            # inputs, checkpoints and spark.local.dir all live here
            "scratch": {"dir": WORK_DIR, "fs_type": fs_type(work)},
            "session": {"master": f"local[{CORES}]", "driver_heap": DRIVER_HEAP},
            "setup": setup,
            "runs": [
                {k: r[k] for k in ("run", "traced", "job_s", "steal_s", "ok")}
                for r in bench.runs
            ],
            "errors": [r["error"] for r in bench.runs if r["error"]],
        }
        print(json.dumps({"detail": detail}))
    except Deadline:
        print(f"perfbench: no result within {DEADLINE_S} s", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        if bench.spark is not None:
            stop_session(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.join(root, WORK_DIR))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
