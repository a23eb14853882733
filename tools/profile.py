"""Profile bench entries: wall time, per-job anatomy, physical plans.

Entry names resolve through `bench.ENTRIES` (the headline and extra
entries, exactly as `bench.py` times them), then through the `queries()`
registry. `time` and `jobs` force each run through the noop sink
(`bench._timed`), like the bench.

    python tools/profile.py time ENTRY... [--runs N] [--sf DIR]
        Min-of-N wall seconds after one discarded warm-up pass, the Spark
        job count of the last pass, and the 1-min load average at the
        start of each recorded pass.
    python tools/profile.py jobs ENTRY... [--repeat N] [--sf DIR]
        Every Spark job of each run (id, seconds, tasks, description),
        then a histogram by callsite. Jobs that streaming entries run on
        the stream-execution thread are included.
    python tools/profile.py plans OUTDIR [SF_DIR] [ENTRY...] [-v]
        Writes OUTDIR/<entry>.txt with the formatted physical plan and
        prints a one-line plan audit per entry; -v also prints the plan.
        With no ENTRY, every registered entry as registered. Entries that
        build persisted fixtures run those Spark jobs while the DataFrame
        is constructed; the plan is the final query's.

--sf defaults to $SPARK_GRAFT_SF_DIR, else the bench's sf0.1 fixture;
SF_DIR defaults to the sf0.01 fixture.
"""

from __future__ import annotations

import argparse
import collections
import os
import sys

_TOOLS = os.path.dirname(os.path.abspath(__file__))
# Run as a script, this directory is sys.path[0], where this file would
# shadow the stdlib `profile` module that pyspark imports via cProfile.
sys.path[:] = [p for p in sys.path if os.path.abspath(p) != _TOOLS]
sys.path.insert(0, os.path.dirname(_TOOLS))

import bench
from geoscan_fraud_spark import get_spark
from geoscan_fraud_spark.harness import QUERIES
from geoscan_fraud_spark.plans.audit import (
    formatted_plan,
    plan_summary,
    scan_read_schemas,
)


def resolve(name: str):
    fn = bench.ENTRIES.get(name) or QUERIES.get(name)
    if fn is None:
        raise SystemExit(f"unknown entry {name!r}")
    return fn


def time(spark, sf_dir: str, names, runs: int = 4) -> dict[str, tuple[float, int]]:
    """name -> (min seconds over `runs` recorded passes, jobs of the last
    pass); the first pass is a discarded warm-up, as in the bench."""
    fns = {n: resolve(n) for n in names}
    out: dict[str, tuple[float, int]] = {}
    loads = []
    for r in range(runs + 1):
        if r:
            loads.append(round(os.getloadavg()[0], 2))
        for n, fn in fns.items():
            dt, n_jobs = bench._timed(spark, sf_dir, fn)
            if r:
                out[n] = (min(dt, out[n][0]) if n in out else dt, n_jobs)
    for n, (secs, n_jobs) in out.items():
        print(f"{n:40s} {secs:8.3f}s  jobs={n_jobs}")
    print(f"load (1-min, per recorded pass): {loads}")
    return out


def _job_rows(spark, lo: int, hi: int) -> list[tuple[int, float | None, int, str]]:
    """(id, seconds, tasks, description) of the jobs with lo < id <= hi."""
    jl = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    rows = []
    for i in range(jl.size()):  # ordered by id descending
        j = jl.apply(i)
        if j.jobId() <= lo:
            break
        if j.jobId() > hi:
            continue
        sub, end = j.submissionTime(), j.completionTime()
        secs = None
        if sub.isDefined() and end.isDefined():
            secs = (end.get().getTime() - sub.get().getTime()) / 1000.0
        desc = j.description().get() if j.description().isDefined() else j.name()
        rows.append((j.jobId(), secs, j.numTasks(), str(desc).split("\n")[0]))
    return sorted(rows)


def jobs(spark, sf_dir: str, names, repeat: int = 1) -> dict[str, list]:
    """Print every job of `repeat` runs per entry; returns the last run's
    job rows per entry."""
    out = {}
    for name in names:
        fn = resolve(name)
        for r in range(repeat):
            wall, n = bench._timed(spark, sf_dir, fn)
            last = bench._max_job_id(spark)
            rows = out[name] = _job_rows(spark, last - n, last)
            print(f"\n=== {name} run {r}: {len(rows)} jobs, wall {wall:.2f}s ===")
            by_site: dict[str, list] = collections.defaultdict(lambda: [0, 0.0])
            for jid, secs, tasks, desc in rows:
                shown = -1.0 if secs is None else secs
                print(f"{jid:6d} {shown:7.3f}s {tasks:4d}t  {desc[:110]}")
                by_site[desc[:110]][0] += 1
                by_site[desc[:110]][1] += secs or 0.0
            print("--- by callsite (jobs, total s) ---")
            for desc, (cnt, tot) in sorted(by_site.items(), key=lambda kv: -kv[1][1]):
                print(f"{cnt:4d}x {tot:8.3f}s  {desc}")
    return out


def _audit_line(name: str, df) -> str:
    s = plan_summary(df)
    flags = []
    if s["sortmerge_joins"]:
        flags.append(f"SMJ x{s['sortmerge_joins']}")
    if s["python_eval"]:
        flags.append(f"py x{s['python_eval']}")
    wide_scans = [sch for sch in scan_read_schemas(df) if sch.count(",") >= 6]
    if wide_scans:
        flags.append(f"wide-scan x{len(wide_scans)}")
    return (
        f"{name:28s} bc={s['broadcast_joins']} smj={s['sortmerge_joins']} "
        f"xchg={s['shuffles']} sorts={s['row_sorts']} "
        f"py={s['python_eval']} pushed={s['pushed_filters']}"
        + ("   <== " + ", ".join(flags) if flags else "")
    )


def plans(spark, sf_dir: str, outdir: str, names=(), verbose: bool = False) -> list[str]:
    """Write OUTDIR/<name>.txt per entry and print its audit line; returns
    the names whose DataFrame could not be built (their file holds the
    error)."""
    os.makedirs(outdir, exist_ok=True)
    targets = {n: resolve(n) for n in names} if names else dict(sorted(QUERIES.items()))
    failed = []
    for name, fn in targets.items():
        try:
            df = fn(spark, sf_dir)
            plan = formatted_plan(df)
            line = _audit_line(name, df)
        except Exception as exc:
            failed.append(name)
            plan = line = f"ERROR building {name}: {exc!r}"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
            fh.write(plan + "\n")
        print(line)
        if verbose:
            print(plan)
    return failed


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    t = sub.add_parser("time", help="min-of-N wall time and job count")
    t.add_argument("entries", nargs="+")
    t.add_argument("--runs", type=int, default=4)
    t.add_argument("--sf", default=sf)
    j = sub.add_parser("jobs", help="per-job anatomy and callsite histogram")
    j.add_argument("entries", nargs="+")
    j.add_argument("--repeat", type=int, default=1)
    j.add_argument("--sf", default=sf)
    pl = sub.add_parser("plans", help="formatted plans to a directory + audit")
    pl.add_argument("outdir")
    pl.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    pl.add_argument("entries", nargs="*")
    pl.add_argument("-v", action="store_true", help="also print each plan")
    a = p.parse_args(argv)

    spark = get_spark(app_name=f"profile-{a.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    if a.cmd == "time":
        time(spark, a.sf, a.entries, a.runs)
    elif a.cmd == "jobs":
        jobs(spark, a.sf, a.entries, a.repeat)
    else:
        failed = plans(spark, a.sf_dir, a.outdir, a.entries, a.v)
        if failed:
            print(f"{len(failed)} entries failed to build: {failed}", file=sys.stderr)
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
