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
        Every Spark job of each run (id, seconds, tasks, executor run
        seconds, description), then a histogram by callsite. Jobs that
        streaming entries run on the stream-execution thread are
        included.
    python tools/profile.py scale ENTRY... --k 1,8,32 [--sf DIR]
        The scale ladder: for each k, a k-copy fixture of DIR (see
        `scaled_fixture`) timed as `time` does, recording per rung the
        wall seconds, jobs, executor run time and input records, then
        the log-log slope of wall seconds against k. The last stdout
        line is one JSON object; exits 1 when any slope exceeds
        FLAG_SLOPE. The core count is $SPARK_GRAFT_CPUS; the JSON
        records the session's default parallelism.
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
import json
import math
import os
import shutil
import sys
import tempfile
from typing import NamedTuple

_TOOLS = os.path.dirname(os.path.abspath(__file__))
# Run as a script, this directory is sys.path[0], where this file would
# shadow the stdlib `profile` module that pyspark imports via cProfile.
sys.path[:] = [p for p in sys.path if os.path.abspath(p) != _TOOLS]
sys.path.insert(0, os.path.dirname(_TOOLS))

import bench
from py4j.protocol import Py4JJavaError

from geoscan_fraud_spark import get_spark
from geoscan_fraud_spark.harness import QUERIES
from geoscan_fraud_spark.plans.audit import (
    formatted_plan,
    plan_summary,
    scan_read_schemas,
)

#: `scale` flags an entry whose log-log slope of wall seconds against k
#: exceeds this. Generous: every entry carries a fixed job floor that
#: makes the small rungs look cheap, and local timings are noisy.
FLAG_SLOPE = 1.35
#: copy c of a scaled table adds c * KEY_STRIDE to its int64 key columns
KEY_STRIDE = 10**9
#: recorded passes per `scale` rung (after the discarded warm-up)
SCALE_RUNS = 2
#: copy c of `events` adds c * VALUE_STEP to `value`, from which the
#: harness derives every synthetic event coordinate; not a multiple of
#: the coordinate moduli (200, 157, 11, 7), and no sum of it with a
#: 2-decimal value is another 2-decimal value
VALUE_STEP = math.sqrt(2) / 4


def resolve(name: str):
    fn = bench.ENTRIES.get(name) or QUERIES.get(name)
    if fn is None:
        raise SystemExit(f"unknown entry {name!r}")
    return fn


class Job(NamedTuple):
    id: int
    secs: float | None
    tasks: int
    desc: str
    #: stage id -> (executor run seconds, input records) of the stages
    #: the job lists; a skipped stage reads (0.0, 0) or is absent
    stages: dict


class Timing(NamedTuple):
    secs: float  # min wall seconds over the recorded passes
    jobs: int  # Spark jobs of the last pass
    exec_s: float  # min executor run time over the recorded passes
    rows: int  # input records of the last pass: source rows, one per cached batch


def _job_rows(spark, lo: int, hi: int) -> list[Job]:
    """The jobs with lo < id <= hi, with their stages' metrics, from the
    status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jl = store.jobsList(None)
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
        stages = {}
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Py4JJavaError as e:
                # past spark.ui.retainedStages the store evicts first the
                # stages without a completion time, the skipped ones,
                # which ran nothing; a window of fewer stages than the
                # limit keeps every stage that ran
                if "NoSuchElementException" not in str(e.java_exception):
                    raise
                continue
            stages[st.stageId()] = (st.executorRunTime() / 1000.0, st.inputRecords())
        rows.append(Job(j.jobId(), secs, j.numTasks(), str(desc).split("\n")[0], stages))
    return sorted(rows)


def _stage_totals(rows: list[Job]) -> tuple[float, int]:
    """(executor run seconds, input records) over the jobs' stages, each
    stage counted once: jobs share the stages they skip."""
    stages = {sid: m for job in rows for sid, m in job.stages.items()}
    return (
        round(sum(run for run, _ in stages.values()), 3),
        sum(n for _, n in stages.values()),
    )


def time(spark, sf_dir: str, names, runs: int = 4) -> dict[str, Timing]:
    """name -> Timing over `runs` recorded passes; the first pass is a
    discarded warm-up, as in the bench."""
    fns = {n: resolve(n) for n in names}
    out: dict[str, Timing] = {}
    loads = []
    for r in range(runs + 1):
        if r:
            loads.append(round(os.getloadavg()[0], 2))
        for n, fn in fns.items():
            dt, n_jobs = bench._timed(spark, sf_dir, fn)
            if not r:
                continue
            last = bench._max_job_id(spark)
            exec_s, rows = _stage_totals(_job_rows(spark, last - n_jobs, last))
            if n in out:
                dt, exec_s = min(dt, out[n].secs), min(exec_s, out[n].exec_s)
            out[n] = Timing(dt, n_jobs, exec_s, rows)
    for n, t in out.items():
        print(f"{n:40s} {t.secs:8.3f}s  jobs={t.jobs}  exec={t.exec_s:.3f}s  rows={t.rows}")
    print(f"load (1-min, per recorded pass): {loads}")
    return out


def jobs(spark, sf_dir: str, names, repeat: int = 1) -> dict[str, list[Job]]:
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
            for job in rows:
                shown = -1.0 if job.secs is None else job.secs
                run = sum(s for s, _ in job.stages.values())
                print(f"{job.id:6d} {shown:7.3f}s {job.tasks:4d}t exec {run:7.3f}s  {job.desc[:100]}")
                by_site[job.desc[:110]][0] += 1
                by_site[job.desc[:110]][1] += job.secs or 0.0
            print("--- by callsite (jobs, total s) ---")
            for desc, (cnt, tot) in sorted(by_site.items(), key=lambda kv: -kv[1][1]):
                print(f"{cnt:4d}x {tot:8.3f}s  {desc}")
    return out


def fit_slope(rows: list[int], secs: list[float]) -> float:
    """Least-squares slope of log(sec) vs log(rows). Requires >= 2
    distinct row counts — a slope over one point is undefined."""
    xs = [math.log(r) for r in rows]
    ys = [math.log(max(s, 1e-6)) for s in secs]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    if denom == 0:
        raise ValueError(
            f"cannot fit a scaling slope over {sorted(set(rows))} — the "
            f"ladder needs at least two distinct scales"
        )
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def _copy_suffix(c: int) -> str:
    """'xq' + c in base 26 over a-z: letters only, so a suffixed token
    stays one token under a whitespace split and `text.TOKEN_PATTERN`,
    and neither lowercasing nor digit masking merges two copies."""
    digits = ""
    while True:
        c, d = divmod(c, 26)
        digits = chr(ord("a") + d) + digits
        if not c:
            return "xq" + digits


def _copy(t, fname: str, keys: list[str], c: int):
    """Copy c >= 1 of fixture table `t` (see `scaled_fixture`)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for name in keys:
        t = t.set_column(
            t.schema.get_field_index(name), name, pc.add(t[name], c * KEY_STRIDE)
        )
    if fname == "events.parquet":
        value = pc.add(t["value"], c * VALUE_STEP)
        t = t.set_column(t.schema.get_field_index("value"), "value", value)
    if fname == "documents.parquet":
        text = pc.replace_substring_regex(
            t["text"], pattern=r"(\S+)", replacement=r"\1" + _copy_suffix(c)
        )
        t = t.set_column(t.schema.get_field_index("text"), "text", text)
    if fname == "embeddings.parquet":
        emb = t["embedding"].combine_chunks()
        vals = pc.add(
            pc.multiply(emb.values.cast(pa.float64()), 1.0 + 0.003 * c), 0.01 * c
        ).cast(emb.type.value_type)
        nudged = pa.ListArray.from_arrays(
            emb.offsets, vals, type=emb.type, mask=emb.is_null()
        )
        t = t.set_column(t.schema.get_field_index("embedding"), "embedding", nudged)
    return t


def scaled_fixture(sf_dir: str, k: int, out_dir: str) -> str:
    """Write a k-copy fixture of `sf_dir` into `out_dir` and return it.

    A table with an int64 column named `*key` or `*_id` holds k copies,
    one row group each; copy c adds c * KEY_STRIDE to every such column,
    so foreign keys join only inside their own copy. Copy 0 is the
    original, so fixed query strings and quantizers still hit real data.
    In copies c >= 1 every `documents.text` token carries the copy's
    `_copy_suffix`, every `embeddings.embedding` gets an affine nudge and
    every `events.value` (hence every synthetic event coordinate) moves
    by c * VALUE_STEP, so no copy duplicates another, and no copy's text
    or embeddings are near duplicates of another's. Tables
    without such a key (`nation`, `region`) are linked unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    for fname in sorted(os.listdir(sf_dir)):
        src, dst = os.path.join(sf_dir, fname), os.path.join(out_dir, fname)
        keys = [
            f.name
            for f in pq.read_schema(src)
            if pa.types.is_int64(f.type) and f.name.endswith(("key", "_id"))
        ]
        if not keys:
            os.symlink(src, dst)
            continue
        base = pq.read_table(src)
        with pq.ParquetWriter(dst, base.schema) as w:
            for c in range(k):
                t = _copy(base, fname, keys, c) if c else base
                w.write_table(t, row_group_size=max(1, t.num_rows))
    return out_dir


def scale(spark, sf_dir: str, names, ks) -> dict:
    """Time `names` on a k-copy fixture of `sf_dir` per k in `ks`; returns
    the ladder's JSON object (per entry: rows, secs, jobs and exec_s per
    rung, plus the log-log slope of secs against k)."""
    if len(set(ks)) < 2:
        raise SystemExit(f"scale ladder {list(ks)} needs two distinct k, e.g. 1,8,32")
    for n in names:
        resolve(n)
    ladder = {n: {"rows": [], "secs": [], "jobs": [], "exec_s": []} for n in names}
    loads = []
    work = tempfile.mkdtemp(prefix="profile_scale_")
    try:
        for k in ks:
            print(f"--- k={k} ---")
            fixture = scaled_fixture(sf_dir, k, os.path.join(work, f"k{k}"))
            loads.append(round(os.getloadavg()[0], 2))
            for n, t in time(spark, fixture, names, SCALE_RUNS).items():
                for field in ("rows", "secs", "jobs", "exec_s"):
                    ladder[n][field].append(getattr(t, field))
            shutil.rmtree(fixture)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for rec in ladder.values():
        rec["slope"] = round(fit_slope(ks, rec["secs"]), 3)
    sc = spark.sparkContext
    return {
        "metric": "scale",
        "sf_dir": sf_dir,
        "ks": list(ks),
        "runs": SCALE_RUNS,
        "flag_slope": FLAG_SLOPE,
        "flagged": [n for n, rec in ladder.items() if rec["slope"] > FLAG_SLOPE],
        "default_parallelism": sc.defaultParallelism,
        "load": loads,
        "entries": ladder,
    }


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
    sc = sub.add_parser("scale", help="wall, jobs and executor time over k-copy fixtures")
    sc.add_argument("entries", nargs="+")
    sc.add_argument("--k", required=True, help="comma-separated copy counts, e.g. 1,8,32")
    sc.add_argument("--sf", default=sf)
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
    elif a.cmd == "scale":
        out = scale(spark, a.sf, a.entries, [int(k) for k in a.k.split(",")])
        print(json.dumps(out))
        if out["flagged"]:
            print(f"super-linear (slope > {FLAG_SLOPE}): {out['flagged']}", file=sys.stderr)
            return 1
    else:
        failed = plans(spark, a.sf_dir, a.outdir, a.entries, a.v)
        if failed:
            print(f"{len(failed)} entries failed to build: {failed}", file=sys.stderr)
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
