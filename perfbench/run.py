#!/usr/bin/env python3
"""Geo-fraud benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {fit_distributed,score} \\
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the repository root. Launching the JVM and starting the
SparkSession happens once and is printed as ``session_start_s`` on the
``run:`` line. Then set-up runs twice, each time on a new SparkSession
of the running context: it generates the inputs and, for ``score``,
builds the model with the train path and reads it back. The first
set-up is cold and the second warm; their median, which is their mean,
is ``setup_s``. Then one untimed warm-up operation, cut to its first
batch, pays for lazy start-up (Python workers, code generation, the
JIT). Then
operations run back to back, one caller, until ``S`` seconds of
operation time and at least three operations have been measured; a
traced run needs one untraced and two traced operations. Every
operation's output is checked against an independent oracle after it is
timed.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced operations and reports the per-layer metrics, the
tracing overhead (traced minus untraced median wall time), and writes
the spans to ``.perfbench_out/``. ``--smoke`` runs tiny inputs.

Lines before the last are for people; the last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Nothing is read or written outside the repository checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: at least this many timed operations, so a median can drop the first,
#: which still runs slower while the JIT catches up
MIN_OPS = 3
#: at least this many traced operations, so jobs per call can be compared
MIN_TRACED = 2
#: set-ups per run: one cold and one warm; their median (the mean of the
#: two) is ``setup_s``, so both a JIT-bound and a work-bound change show
SETUPS = 2

#: end-to-end metrics (``--trace 0``), with units
E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "tx_per_s": "1/s",
    "batch_p50_ms": "ms",
    "batch_tail_ms": "ms",
    "peak_rss_mb": "MB",
}

#: layer metrics reported on the result line (``--trace 1``); every layer's
#: full ``<module>.<call>.<metric>`` table is printed on the line before it
LAYER_CALLS = (
    "personalized.fit",
    "personalized.getTiles",
    "tiles.tile_tfidf",
    "io.write_sorted_layout",
    "io.read_parquet",
    "bloom.train_blooms",
    "geoscan.fit",
    "geoscan.epsilon_pairs",
    "components.connected_components",
    "geoscan.transform",
    "scoring.extract_anomalies",
    "bloom.score_with_blooms",
)
COUNTS = {
    "personalized.models": "count",
    "tiles.rows": "count",
    "io.files": "count",
    "io.bytes_written_mb": "MB",
    "bloom.bytes_per_tile": "B",
    "geoscan.pairs": "count",
    "components.edges": "count",
    "scoring.anomalies": "count",
    "bloom.fp_rate": "ratio",
}
TOTAL_UNITS = {
    "op.wall_s": "s",
    "trace.overhead_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_mb": "MB",
    "driver.gap_s": "s",
}


def layer_units() -> dict[str, str]:
    units = dict(TOTAL_UNITS)
    units.update({f"{c}.jobs": "count" for c in LAYER_CALLS})
    units.update(COUNTS)
    return units


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["fit_distributed", "score"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    return p.parse_args(argv)


def host_info() -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    # 1 GB (less on a small host) is ample for these inputs, and a heap
    # that fills up within a run makes the peak RSS repeatable
    driver_mb = max(512, min(1024, mem_mb // 8))
    return {
        "cpus": cpus,
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "driver_memory": f"{driver_mb}m",
        "phys_mem_mb": mem_mb,
        "loadavg": os.getloadavg(),
    }


def pin_environment(host: dict, work: str) -> None:
    """Point the session at this host through the variables ``get_spark``
    reads, and keep every scratch file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host["cpus"]),
        SPARK_GRAFT_MASTER=host["master"],
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(host["shuffle_partitions"]),
        SPARK_GRAFT_DRIVER_MEM=host["driver_memory"],
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
    )


def start_spark(work: str):
    from geoscan_fraud_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            # no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
            # keep every job of the run in the status store the tracer reads
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def tree_rss_mb(root_pid: int) -> float:
    """Summed resident set size of ``root_pid`` and its descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


class RssSampler:
    """Samples ``tree_rss_mb`` every ``period`` seconds on a thread and keeps
    the peak: Python workers come and go, so the peak of the sum is not the
    sum of each process's own peak."""

    def __init__(self, root_pid: int, period: float = 0.25):
        self.root_pid, self.period, self.peak = root_pid, period, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.root_pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def layer_report(tr, traced: list[float], untraced: list[float]) -> tuple[dict, dict, int]:
    """(full layer table, result-line metrics, failed repeat checks).

    Each layer metric is the median over traced iterations; a count that
    differs between iterations is a failed check."""
    from tracing import SPAN_METRICS

    per_layer = tr.layer_metrics()
    table: dict[str, float] = {}
    unstable = 0
    for name, iters in sorted(per_layer.items()):
        for m in SPAN_METRICS:
            vals = [it[m] for it in iters]
            table[f"{name}.{m}"] = statistics.median(vals)
            if m == "jobs" and len(set(vals)) > 1:
                unstable += 1
                print(f"unstable: {name}.jobs = {vals}", file=sys.stderr)
    # trace 0 is the traced set-up; a count it shares with the operations
    # must agree with them too
    counts = [tr.counts[t] for t in sorted(tr.counts)]
    for key in sorted({k for c in counts for k in c}):
        vals = [c[key] for c in counts if key in c]
        table[key] = vals[0]
        if len(set(vals)) > 1:
            unstable += 1
            print(f"unstable: {key} = {vals}", file=sys.stderr)
    if table.get("scoring.anomalies"):
        passed = table["scoring.anomalies"] - table.get("bloom.flagged", 0)
        table["bloom.fp_rate"] = passed / table["scoring.anomalies"]
    table["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    table["op.untraced_wall_s"] = statistics.median(untraced)

    # totals over every top-level span of an iteration
    tops = [s for s in tr.spans if s["parent"] is None and s["trace"] > 0]
    top_names = sorted({s["name"] for s in tops})
    totals = {k: 0.0 for k in ("jobs", "tasks", "exec_cpu_s", "gc_s", "shuffle_mb", "driver_gap_s")}
    for name in top_names:
        for k in totals:
            totals[k] += table[f"{name}.{k}"]
    units = layer_units()
    values = {
        "op.wall_s": statistics.median(traced),
        "trace.overhead_s": table["trace.overhead_s"],
        "spark.jobs": totals["jobs"],
        "spark.tasks": totals["tasks"],
        "spark.exec_cpu_s": totals["exec_cpu_s"],
        "spark.gc_s": totals["gc_s"],
        "spark.shuffle_mb": totals["shuffle_mb"],
        "driver.gap_s": totals["driver_gap_s"],
    }
    for c in LAYER_CALLS:
        values[f"{c}.jobs"] = table.get(f"{c}.jobs", 0)
    for c in COUNTS:
        values[c] = table.get(c, 0)
    return table, {k: metric(values[k], units[k]) for k in units}, unstable


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    host = host_info()
    pin_environment(host, work)
    sys.path.insert(0, ROOT)
    try:
        import workloads  # needs the engine package: fails fast without it
    except ImportError:
        shutil.rmtree(work, ignore_errors=True)
        raise
    from tracing import Tracer

    w = workloads.WORKLOADS[args.workload](args.smoke)
    spark = None
    try:
        # --- session start, then SETUPS set-ups on new sessions; the last
        # is traced in a traced run
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_start = time.perf_counter() - t0
        setups = []
        for rep in range(SETUPS):
            t0 = time.perf_counter()
            if rep:
                spark.catalog.clearCache()
            spark = spark.newSession()
            tr = Tracer(spark, bool(args.trace))
            state = w.setup(spark, args.seed, work, tr if rep == SETUPS - 1 else workloads.OFF)
            setups.append(time.perf_counter() - t0)
        attempted, failed = w.prepare_checks(spark, state)
        sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
        with sampler:
            t0 = time.perf_counter()
            w.release(w.op(spark, state, workloads.OFF, batches=1))
            warm_s = time.perf_counter() - t0

            # --- operations, one caller, until `seconds` of operation time;
            # smoke runs only check the plumbing
            min_ops = 1 if args.smoke or args.trace else MIN_OPS
            walls, traced, lat = [], [], []
            tx = 0
            measured, i = 0.0, 0
            while (
                measured < args.seconds
                or len(walls) < min_ops
                or (args.trace and len(traced) < MIN_TRACED)
            ):
                # a traced run alternates T U T ..., so the untraced
                # operations sit between traced ones and a linear drift
                # cancels out of the overhead
                on = bool(args.trace) and i % 2 == 0
                if on:
                    tr.new_trace()
                op = w.op(spark, state, tr if on else workloads.OFF)
                i += 1
                measured += op.wall_s
                if on:
                    traced.append(op.wall_s)
                else:
                    walls.append(op.wall_s)
                    lat.extend(op.batch_ms)
                    tx += op.tx
                attempted += len(op.batch_ms)
                failed += min(w.check(spark, state, op), len(op.batch_ms))
                w.release(op)

        info = {
            "workload": args.workload,
            "seed": args.seed,
            "smoke": args.smoke,
            "host": host,
            "session_start_s": session_start,
            "setup_cold_s": setups[0],
            "setup_runs_s": setups,
            "warmup_s": warm_s,
            "ops": len(walls),
            "op_walls_s": walls,
            "batch_ms": lat,
            "trace_ops": len(traced),
        }
        if args.trace:
            table, metrics, unstable = layer_report(tr, traced, walls)
            failed += unstable
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tr.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
            print("layers: " + json.dumps(table, sort_keys=True))
        else:
            wall = statistics.median(walls)
            values = {
                "setup_s": statistics.median(setups),
                "wall_s": wall,
                # every operation processes the same transactions
                "tx_per_s": tx / len(walls) / wall,
                "batch_p50_ms": statistics.median(lat),
                # too few samples for a percentile above the median
                "batch_tail_ms": max(lat),
                "peak_rss_mb": sampler.peak,
            }
            metrics = {k: metric(v, E2E_UNITS[k]) for k, v in values.items()}
        info["error_rate"] = failed / attempted
        print("run: " + json.dumps(info))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            shutdown_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
