"""IO layer — sources/sinks from SURVEY §2.1 (S1-S10), Spark-first.

The reference loads its CSV through pandas and per-column float casts
(`01_geofraud_clustering.py:56-62`); the engine reads CSV/parquet straight
into the JVM with explicit schemas so predicate pushdown and column pruning
reach the scan. The Delta ZORDER layout step (`01:440`) is approximated for
OSS Spark with range-repartition + in-partition sort, which gives parquet
row-group min/max pruning on the leading keys (SURVEY §4).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Schema of the reference's transactions CSV
#: (`/root/reference/data/transactions.csv`, header at line 1).
TRANSACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("user", T.StringType()),
    ]
)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """S1 — CSV source. JVM-native read (no pandas hop)."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S2 — parquet source (`02_geofraud_fraud.py:29`)."""
    return spark.read.parquet(path)


def load_fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver fixture table, normalizing nano-precision timestamps.

    Works on ANY SparkSession, not just one built by ``session.get_spark``:
    ``spark.sql.legacy.parquet.nanosAsLong`` is runtime-settable, so it is
    set here, right before the scan, rather than assumed at session build.
    With it on, TIMESTAMP(NANOS) parquet columns surface as epoch-nano
    longs; convert them back to microsecond timestamps (matching DuckDB's
    truncation) right at the scan so every downstream plan sees a proper
    timestamp column.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf locked down — fall through and hope the session has it
    path = f"{sf_dir}/{name}.parquet"
    try:
        df = spark.read.parquet(path)
    except Exception:
        # A session that cached the analyzed schema before the conf landed
        # can still raise; one retry after the set is always clean.
        df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """S3 — managed-table source (`01:449`, `02:18`)."""
    return spark.read.table(name)


def _clear_orphan_location(spark: SparkSession, name: str) -> None:
    """Remove an orphaned warehouse directory for ``name``.

    The default (in-memory) catalog dies with the JVM, but the table's
    warehouse directory survives a crashed session. A later session's
    ``DROP TABLE IF EXISTS`` is then a no-op (no catalog entry) and
    ``saveAsTable`` fails with LOCATION_ALREADY_EXISTS. If — and only if —
    the catalog has no entry for ``name`` but its default warehouse
    location exists on disk, delete the directory. A *registered* table's
    location is never touched (save-mode semantics own those).

    NOT called by default: "no entry in *this session's*
    in-memory catalog" is also exactly the state of a live table owned by
    a CONCURRENT Spark session (or another engine) sharing the warehouse
    directory — an unconditional sweep would destroy its data. Callers
    that own their warehouse exclusively (tests run against a per-session
    temp warehouse; single-writer batch jobs) opt in via
    ``write_table(..., clear_orphan=True)``.
    """
    if spark.catalog.tableExists(name):
        return
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    wh_path = wh.path if wh.scheme in ("file", "") else None
    if not wh_path:
        return  # remote warehouse (hdfs/s3): nothing to do locally
    parts = name.split(".")
    db = parts[0] if len(parts) == 2 else spark.catalog.currentDatabase()
    tbl = parts[-1].lower()
    loc = (
        os.path.join(wh_path, tbl)
        if db == "default"
        else os.path.join(wh_path, f"{db.lower()}.db", tbl)
    )
    shutil.rmtree(loc, ignore_errors=True)


def write_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    clear_orphan: bool = False,
    fmt: str = "parquet",
) -> None:
    """S4 — managed table sink (reference `01:431` writes
    ``format('delta')``; Delta is not present in this env, so the
    default is parquet and ``fmt`` takes any Spark-supported table
    format — the ORC round trip is pinned in
    tests/test_round8_fixes.py).

    ``clear_orphan=True`` removes a crashed session's leftover warehouse
    directory for ``name`` first — opt-in ONLY, because with in-memory
    catalogs the same on-disk state can belong to a concurrent session
    (see `_clear_orphan_location`)."""
    if clear_orphan:
        _clear_orphan_location(df.sparkSession, name)
    df.write.mode(mode).format(fmt).saveAsTable(name)


def write_sorted_layout(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int | None = None,
) -> None:
    """S7 — ZORDER-approximation for OSS Spark.

    Delta's `OPTIMIZE ... ZORDER BY (user, h3)` (`01:440`) clusters the file
    layout for point lookups. Without Delta, range-partitioning on the sort
    keys then sorting within partitions yields parquet files whose row-group
    min/max statistics are tight on the leading keys, so per-user / per-cell
    lookups prune most files — the property the reference is after.
    """
    cols = [F.col(c) for c in sort_cols]
    out = df.repartitionByRange(*(([num_files] if num_files else []) + cols))
    out.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)


def write_csv_artifact(df: DataFrame, path: str) -> str:
    """S8 — driver-side CSV artifact sink (`02_geofraud_fraud.py:200-206`).

    Kept only for artifact parity; engine model artifacts use parquet (the
    reference's stringified-list CSV causes the `bu:21` bug, SURVEY §5.3).
    """
    df.toPandas().to_csv(path, index=False)
    return path


def create_database(spark: SparkSession, name: str, location: str | None = None) -> None:
    """S5 — DDL parity (`config/configure_notebook.py:18-27`)."""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}{loc}")
    spark.sql(f"USE {name}")


def drop_database(spark: SparkSession, name: str, path: str | None = None) -> None:
    """S6 — teardown parity (`config/configure_notebook.py:44-48`)."""
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")
    if path:
        shutil.rmtree(path, ignore_errors=True)


def write_online_store(
    df: DataFrame,
    fmt: str,
    options: dict[str, str] | None = None,
    mode: str = "append",
    path: str | None = None,
) -> None:
    """S9 companion — generic external-store sink passthrough.

    The reference pushes the tiles table to an online store with
    ``df.write.format('mongo').mode('append').save()`` plus a TTL index
    (`02_geofraud_fraud.py:293-304`). No store driver ships in this
    environment, so the engine exposes the same write shape for ANY
    DataSource V2 connector name: the caller supplies the format string
    and options, Spark loads the connector from the classpath at runtime.
    TTL *semantics* are modeled relationally by `with_ttl_filter`.
    """
    w = df.write.format(fmt).mode(mode)
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.save(path) if path else w.save()


def with_ttl_filter(df: DataFrame, ts_col: str, ttl_seconds: int = 604_800) -> DataFrame:
    """S9 TTL semantics, relationally: keep rows younger than the TTL.

    Models the MongoDB `expireAfterSeconds: 604800` index of
    `02_geofraud_fraud.py:283-287` as an event-time filter.
    """
    return df.filter(
        F.col(ts_col) >= F.current_timestamp() - F.expr(f"INTERVAL {ttl_seconds} SECOND")
    )


def compact_files(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    fmt: str = "parquet",
) -> int:
    """Small-file compaction: rewrite a table directory into
    size-balanced files of ~``target_mb`` and return the new file count.

    Streaming ingest (`neardup_ingest_sink`, foreachBatch appends) and
    incremental jobs accrete thousands of small files; at scale the
    resulting scan pays per-file open/footer costs and the driver pays
    per-file listing. Standard maintenance: read, `repartition(n)` with
    n sized from the CURRENT on-disk bytes, rewrite atomically
    (write to `<path>.__compact__`, then swap). The repartition is a
    round-robin shuffle — the one shuffle this job exists to pay.

    Single-writer maintenance op (like the reference's OPTIMIZE,
    `01:440`): don't run it concurrently with writers to the same path.
    """
    size_bytes = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                size_bytes += os.path.getsize(os.path.join(root, f))
    n_files = max(1, -(-size_bytes // (target_mb * 1024 * 1024)))

    df = (
        spark.read.parquet(path)
        if fmt == "parquet"
        else spark.read.format(fmt).load(path)
    )
    tmp = path.rstrip("/") + ".__compact__"
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .format(fmt)
        .save(tmp)
    )
    old = path.rstrip("/") + ".__old__"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files


def atomic_write_json(path: str, obj: dict) -> None:
    """Atomically commit index metadata: write ``<path>.tmp``, fsync,
    `os.replace` into place. Every serving-index metadata file
    (``stats.json``, ``centroids.json``) goes through here — a plain
    truncate-write would leave a torn/partial JSON if the process dies
    mid-`json.dump`, bricking the index (every query and append starts
    by reading the metadata). With the rename, a crash at ANY point
    leaves either the old complete metadata or the new complete
    metadata, which is what the append paths' crash-window contracts
    ("counters and batch id commit in the SAME write") assume.

    POSIX rename is atomic on one filesystem; the tmp file lives beside
    the target so they always share one. Concurrent writers are the
    caller's problem — see `index_writer_lock`."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def read_index_meta(path: str) -> dict:
    """Read serving-index metadata, refusing CLEARLY on corruption.
    A torn metadata file (pre-`atomic_write_json` truncate-write crash,
    or filesystem damage) must not surface as an inscrutable
    JSONDecodeError deep inside a query — name the file and the likely
    cause so the operator knows the index needs a rebuild (or a restore
    of the ``.tmp`` sibling if one survived)."""
    try:
        with open(path) as f:
            return json.load(f)
    except json.JSONDecodeError as e:
        raise ValueError(
            f"{path} is corrupt (truncated or partial JSON: {e}) — likely a "
            f"crash mid-write by a pre-atomic-commit writer or filesystem "
            f"damage; rebuild the index (ivf_index_rebuild / "
            f"text_index_write) or restore the metadata from a backup"
        ) from e


def _holder_is_dead_here(holder: str) -> bool:
    """True only when ``holder`` names THIS host and a pid that provably
    no longer exists. Anything else — another host (liveness unknowable
    from a lock file), a live pid, a pid alive under another uid, or an
    unparseable string — reads as "possibly alive" and is never
    reclaimed."""
    import socket

    fields = dict(kv.split("=", 1) for kv in holder.split() if "=" in kv)
    if fields.get("host") != socket.gethostname():
        return False
    try:
        pid = int(fields.get("pid", ""))
    except ValueError:
        return False
    try:
        os.kill(pid, 0)
        return False  # holder is alive
    except ProcessLookupError:
        return True  # provably dead on this host — stale
    except PermissionError:
        return False  # alive under another uid


def _try_steal_stale_lock(lock: str, holder: str) -> bool:
    """Reclaim a lock whose recorded holder provably crashed (see
    `_holder_is_dead_here`). Returns True if the stale lock was removed
    — the caller then re-contends for a fresh acquire.

    Two guarantees, both load-bearing for mutual exclusion (a bare
    rename-claim lets two stealers that both read the same dead holder
    BOTH win, the second one moving the first's fresh live lock):

    * **One stealer per stale holder.** The steal is serialized by a
      SENTINEL file named after the stale holder's content hash,
      created with ``O_CREAT|O_EXCL`` — the loser backs off to the
      caller (which retries the acquire and then sees either a free
      lock or the winner's fresh live one). A sentinel whose own
      recorded stealer died (crash mid-steal) is reclaimed the same
      way the lock itself is, so a crashed steal never wedges the path.
    * **Verify before remove.** Under the sentinel, the lock's content
      is RE-READ and compared to the stale holder observed earlier;
      only an exact match is unlinked. A fresh lock written by a new
      writer in the window can therefore never be removed — its
      content differs (every acquire stamps a unique token, so even a
      recycled pid cannot reproduce a dead holder's string)."""
    import hashlib
    import socket

    if not _holder_is_dead_here(holder):
        return False
    sentinel = (
        f"{lock}.steal-{hashlib.md5(holder.encode()).hexdigest()[:12]}"
    )
    me = f"pid={os.getpid()} host={socket.gethostname()}"
    for _ in (0, 1):
        try:
            fd = os.open(sentinel, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, me.encode())
            os.close(fd)
            break
        except FileExistsError:
            try:
                with open(sentinel) as f:
                    prior = f.read().strip()
            except OSError:
                return False  # racing stealer mid-flight — back off
            if _holder_is_dead_here(prior):
                # the prior stealer crashed mid-steal: clear its
                # sentinel and retry once (a second crash here leaves
                # the next contender the same mechanical recovery)
                try:
                    os.unlink(sentinel)
                except FileNotFoundError:
                    pass
                continue
            return False  # a live stealer owns this steal — back off
    else:
        return False
    try:
        try:
            with open(lock) as f:
                current = f.read().strip()
        except OSError:
            return True  # lock vanished — free either way; re-contend
        if current != holder:
            return False  # a fresh writer's lock — never touch it
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass
        return True
    finally:
        try:
            os.unlink(sentinel)
        except FileNotFoundError:
            pass


@contextlib.contextmanager
def index_writer_lock(path: str, op: str):
    """Mutual exclusion for serving-index WRITERS (append / compact /
    expire / rebuild) on ``<path>/.writer.lock``. Without it, two
    concurrent ``*_append`` calls read-modify-write the same stats JSON
    and the slower one silently overwrites the faster one's counters
    (lost update). Readers never take the lock — queries are read-only
    and see either pre- or post-commit metadata (atomic_write_json
    guarantees it is never torn).

    The claim is an atomic `os.link` of a pre-written holder file into
    place (link fails with EEXIST when the lock exists — same atomicity
    as ``O_CREAT|O_EXCL``, but the lock is NEVER visible without its
    holder metadata: create-then-write would leave a crash window
    whose empty lock no stealer could ever adjudicate, a permanent
    manual-intervention outage). The holder string carries
    a unique per-acquire token, so no two locks ever have equal
    content (kills pid-recycling ABA in the steal path's verify).

    A crash while holding the lock leaves it behind. Because the
    per-batch streaming appends also lock, a stale lock must not turn a
    routine driver crash into a manual-intervention outage: when the
    recorded holder is on THIS host and its pid provably no longer
    exists, the lock is auto-reclaimed (`_try_steal_stale_lock` —
    sentinel-serialized, content-verified). A holder on another host,
    alive, or unparseable still refuses loudly with the holder named —
    the conservative default, since cross-host liveness is unknowable
    from a lock file. A lock that VANISHES between the failed claim and
    the read (the prior holder released, or a racing steal completed)
    is a free lock, not a conflict: the claim is simply retried
    instead of refusing spuriously."""
    import socket
    import time
    import uuid

    lock = os.path.join(path, ".writer.lock")
    me = (
        f"pid={os.getpid()} host={socket.gethostname()} op={op} "
        f"token={uuid.uuid4().hex[:12]}"
    )
    claim = f"{lock}.claim-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    with open(claim, "w") as f:
        f.write(me)
    try:
        for attempt in range(8):
            try:
                os.link(claim, lock)
                break
            except FileExistsError:
                try:
                    with open(lock) as f:
                        holder = f.read().strip()
                except FileNotFoundError:
                    continue  # vanished — the lock is free; retry the claim
                except OSError:
                    holder = ""
                if holder and _try_steal_stale_lock(lock, holder):
                    continue  # reclaimed (or it vanished); re-contend
                if holder and _holder_is_dead_here(holder) and attempt < 7:
                    # dead holder but a racing stealer owns the steal:
                    # transient by construction — brief wait, re-contend
                    time.sleep(0.05)
                    continue
                raise ValueError(
                    f"{lock} exists (held by {holder or 'unknown'}) — "
                    f"another writer is active on this index, or a writer "
                    f"on another host crashed without releasing it; verify "
                    f"no writer is running, then remove the lock file and "
                    f"retry ({op} refused)"
                ) from None
        else:
            raise ValueError(
                f"{lock} kept appearing and vanishing across every retry — "
                f"writers are churning on this index; retry {op} once the "
                f"store quiesces"
            )
    finally:
        try:
            os.unlink(claim)
        except FileNotFoundError:
            pass
    try:
        yield
    finally:
        # tolerate the lock file vanishing with its directory (an op
        # that relocates the index) — the lock is released either way
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass


def index_artifact_findings(path: str, meta_name: str, data_dirs) -> list:
    """Filesystem-level health sweep for a persisted serving index
    (`index_fsck`'s front half): stale writer lock, orphaned metadata
    ``.tmp`` (a crash between tmp-write and replace — the LIVE metadata
    is intact, the tmp is garbage), crashed-swap leftovers from
    compaction/rebuild — swept for EVERY data-dir family in
    ``data_dirs`` (a text index's crashed pre-generation compaction
    could leave ``terms.__old__`` with ``postings`` clean, and the
    doctor must not green-light an index whose maintenance path is
    blocked). Returns a list of human-readable findings (empty =
    clean). Pure os-walk — no Spark job."""
    findings = []
    lock = os.path.join(path, ".writer.lock")
    if os.path.exists(lock):
        try:
            with open(lock) as f:
                holder = f.read().strip()
        except OSError:
            holder = "unknown"
        findings.append(
            f"writer lock present ({holder}) — a writer is active or "
            f"crashed without releasing; verify and remove"
        )
    tmp = os.path.join(path, meta_name + ".tmp")
    if os.path.exists(tmp):
        findings.append(
            f"{meta_name}.tmp leftover — a metadata commit crashed "
            f"before replace; live metadata is intact, delete the tmp"
        )
    for data_dir in data_dirs:
        dpath = os.path.join(path, data_dir)
        for leftover in ("__compact__", "__old__"):
            p = dpath.rstrip("/") + f".{leftover}"
            if os.path.exists(p):
                findings.append(
                    f"{os.path.basename(p)} leftover — a compaction crashed "
                    f"mid-swap; inspect/remove it before the next "
                    f"maintenance run"
                )
    for leftover in ("__rebuild__", "__old__"):
        p = path.rstrip("/") + f".{leftover}"
        if os.path.exists(p):
            findings.append(
                f"index-level .{leftover} leftover — a rebuild crashed "
                f"mid-swap; inspect/remove before re-running"
            )
    return findings


def heal_index_artifacts(path: str, meta_name: str) -> list:
    """The mechanical half of the `index_maintain` runbook:
    heal every filesystem artifact `index_artifact_findings` can name
    that has a SAFE automatic remedy, and return what was healed.

    * orphaned ``<meta_name>.tmp`` — a crash between tmp-write and
      `os.replace`; the live metadata is intact and the tmp is garbage
      by construction (`atomic_write_json`), so deleting it is safe;
    * stale writer lock — reclaimed via `_try_steal_stale_lock` only
      when the recorded holder is a provably-dead same-host pid; a
      live, foreign, or unparseable holder is LEFT ALONE (the
      maintenance ops behind it will refuse loudly, which is the
      correct escalation).

    Crashed-swap ``__compact__``/``__old__`` leftovers are NOT healed —
    they may hold the only copy of pre-generation data and keep their
    manual-recovery contract; the maintenance op that trips over them
    refuses with instructions."""
    healed = []
    tmp = os.path.join(path, meta_name + ".tmp")
    if os.path.exists(tmp):
        os.unlink(tmp)
        healed.append(f"removed orphaned {meta_name}.tmp")
    lock = os.path.join(path, ".writer.lock")
    if os.path.exists(lock):
        try:
            with open(lock) as f:
                holder = f.read().strip()
        except OSError:
            holder = ""
        if holder and _try_steal_stale_lock(lock, holder):
            healed.append(f"reclaimed stale writer lock ({holder})")
    # inert debris from crashed acquire/steal attempts: a `.claim-*`
    # (pre-link holder file) or `.steal-*` (sentinel) whose recorded
    # owner provably died is garbage — the claim was never linked, and
    # a dead stealer's sentinel only blocks future steals of that same
    # holder (which _try_steal_stale_lock also self-heals; this just
    # tidies earlier)
    try:
        debris = [
            f
            for f in os.listdir(path)
            if f.startswith(".writer.lock.")
            and (".claim-" in f or ".steal-" in f)
        ]
    except FileNotFoundError:
        debris = []
    for f in debris:
        p = os.path.join(path, f)
        try:
            with open(p) as fh:
                owner = fh.read().strip()
        except OSError:
            continue
        if owner and _holder_is_dead_here(owner):
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass
            healed.append(f"removed dead acquire/steal debris {f}")
    return healed


def gen_suffix(name: str, gen: int) -> str:
    """On-disk name of an index data-dir family member at a generation:
    generation 0 is the BARE name (the pre-generation layout, so every
    index written before the pointer existed reads as gen 0 with no
    migration), generation N > 0 is ``<name>.gN``."""
    return name if int(gen) <= 0 else f"{name}.g{int(gen)}"


def gen_dir(path: str, name: str, meta: dict) -> str:
    """Resolve the data directory the index metadata currently
    references — THE read-side contract of the generation pointer.
    Every reader resolves its postings/terms/lists/tombstones dir
    through the metadata it already loads first, so a maintenance op
    that publishes a new generation (one `atomic_write_json` flip)
    never changes the bytes under a query that resolved earlier: the
    old snapshot stays complete on disk until `index_vacuum`."""
    return os.path.join(path, gen_suffix(name, int(meta.get("gen", 0))))


def list_index_generations(path: str, names: list[str]) -> dict:
    """All on-disk generations per data-dir family (bare dir = 0).
    Pure listdir — no Spark job."""
    out: dict = {}
    try:
        entries = os.listdir(path)
    except FileNotFoundError:
        return {n: [] for n in names}
    for name in names:
        gens = [0] if os.path.isdir(os.path.join(path, name)) else []
        prefix = name + ".g"
        for d in entries:
            if d.startswith(prefix) and d[len(prefix):].isdigit():
                gens.append(int(d[len(prefix):]))
        out[name] = sorted(gens)
    return out


def next_generation(path: str, meta: dict | None, families) -> int:
    """The generation a writer publishes next: one past every
    generation on disk and the live pointer, so a crashed run's
    unpublished orphan is never half-reused. ``meta`` is None when the
    metadata is missing or torn (a rebuild is the cure); with nothing
    on disk either, the first build is generation 0 (the bare layout)."""
    gens = [g for gs in list_index_generations(path, families).values() for g in gs]
    if meta is not None:
        gens.append(int(meta.get("gen", 0)))
    return max(gens) + 1 if gens else 0


def mark_retired_generations(path: str, names: list[str], live_gen: int) -> None:
    """Stamp every non-live on-disk generation directory with NOW
    (`os.utime`), so `index_vacuum`'s ``min_age_sec`` grace period ages
    from the pointer FLIP that retired the snapshot rather than from
    its last write (a generation that had been quiescent longer than
    the grace period would otherwise be vacuumable the instant it was
    retired, under any reader that resolved it just before the flip).
    Also stamps never-published orphans — harmless (they are garbage
    either way; the stamp just delays their removal by one grace
    period). Best effort: a dir that vanishes mid-stamp is already
    someone else's vacuum."""
    import time

    now = time.time()
    for name, gens in list_index_generations(path, names).items():
        for g in gens:
            if g == int(live_gen):
                continue
            try:
                os.utime(os.path.join(path, gen_suffix(name, g)), (now, now))
            except OSError:
                pass


def publish_generation(path: str, meta_name: str, meta: dict, families) -> None:
    """THE commit of every op that writes a new generation: the
    metadata (counters + ``gen`` pointer) lands in one
    `atomic_write_json` — before it the new generation never existed
    for readers — then the outgoing generations are retire-stamped
    (`mark_retired_generations`)."""
    atomic_write_json(os.path.join(path, meta_name), meta)
    mark_retired_generations(path, families, int(meta["gen"]))


def anti_tombstones(
    spark: SparkSession, path: str, meta: dict, df: DataFrame, key: str
) -> DataFrame:
    """Hide the rows of ``df`` whose ``key`` is tombstoned in the
    generation ``meta`` points at. No-op when that generation has no
    tombstones (the common case pays one os.path check)."""
    tpath = gen_dir(path, "tombstones", meta)
    if not os.path.isdir(tpath):
        return df
    return df.join(spark.read.parquet(tpath).toDF(key), key, "left_anti")


def fold_generation(
    spark: SparkSession,
    path: str,
    meta: dict,
    gen: int,
    family: str,
    expire_below: int | None,
    key: str,
    partition_col,
) -> str:
    """Fold one data-dir family of the live generation into generation
    ``gen``: full-row distinct (a crash-window replay re-appends
    bit-identical rows, so this removes exactly the replay) -> drop the
    rows whose ``src_batch`` is below ``expire_below`` (None keeps all;
    build rows, ``src_batch = -1``, never expire) -> tombstone
    anti-join -> a hash repartition on ``partition_col`` so each
    partition directory gets one file (one file in all when it is
    None). Returns the written directory; the caller publishes it with
    `publish_generation`."""
    out = os.path.join(path, gen_suffix(family, gen))
    rows = spark.read.parquet(gen_dir(path, family, meta)).distinct()
    if expire_below is not None:
        rows = rows.filter(
            (F.col("src_batch") == -1) | (F.col("src_batch") >= expire_below)
        )
    folded = anti_tombstones(spark, path, meta, rows, key)
    if partition_col is None:
        folded.repartition(1).write.mode("overwrite").parquet(out)
    else:
        folded.repartition(F.col(partition_col)).write.mode(
            "overwrite"
        ).partitionBy(partition_col).parquet(out)
    return out


def generation_findings(path: str, meta: dict, names: list[str]) -> tuple:
    """Generation adjudication for `index_fsck`: returns
    ``(findings, generations)`` where findings flag ORPHAN generations
    newer than the live pointer (a crashed maintenance op — harmless,
    never published, vacuum removes) and ``generations`` reports the
    live pointer plus any STALE ones pending vacuum (normal operation
    between a flip and the next `index_vacuum`, NOT a health problem —
    they are what in-flight readers finish against)."""
    cur = int(meta.get("gen", 0))
    gens = list_index_generations(path, names)
    orphans = sorted({g for gs in gens.values() for g in gs if g > cur})
    stale = sorted({g for gs in gens.values() for g in gs if g < cur})
    findings = []
    if orphans:
        findings.append(
            f"orphaned generation(s) {orphans} newer than the live "
            f"generation {cur} — a compaction/rebuild crashed before its "
            f"metadata flip (never published, queries unaffected); "
            f"index_vacuum removes them"
        )
    return findings, {"live": cur, "stale": stale}


def _index_kind(path: str) -> dict:
    """What differs between the two serving indexes, picked by the
    metadata file found at ``path``: ``stats.json`` is a BM25 index
    (`operators/retrieval.py`), ``centroids.json`` an IVF index
    (`operators/similarity.py`).

    * ``families`` — every generation-scoped data-dir family; listing,
      vacuum, fsck and the retire stamps must agree on it;
    * ``id_col`` — the tombstone key; ``data`` — the family that
      compaction folds and fsck scans;
    * ``compact(spark, path, expire_below)`` — the new-generation
      relayout (``expire_below=None`` is a plain compaction);
    * ``checks(spark, path, meta, data, n_distinct)`` — the
      store-specific fsck checks, returning ``(measured, findings)``;
    * ``upgrade(spark, path)`` — a maintain step run before the
      pressure check, returning extra report entries."""
    from geoscan_fraud_spark.operators import retrieval, similarity

    kinds = (
        {
            "meta": "stats.json",
            "families": retrieval._TEXT_GEN_FAMILIES,
            "id_col": "doc_id",
            "data": "postings",
            "compact": retrieval._text_compact,
            "checks": retrieval._text_fsck_checks,
            "upgrade": retrieval._maintain_empties,
        },
        {
            "meta": "centroids.json",
            "families": similarity._IVF_GEN_FAMILIES,
            "id_col": "vec_id",
            "data": "lists",
            "compact": similarity._ivf_relayout,
            "checks": similarity._ivf_fsck_checks,
            "upgrade": lambda spark, path: {},
        },
    )
    for kind in kinds:
        if os.path.isfile(os.path.join(path, kind["meta"])):
            return kind
    raise ValueError(
        f"{path} is not a serving index: it holds neither stats.json "
        f"(BM25) nor centroids.json (IVF)"
    )


def index_delete(spark: SparkSession, path: str, ids) -> None:
    """Logical delete (tombstones) for a serving index — the
    takedown / right-to-be-forgotten path. ``ids`` is a one-column
    DataFrame or a small Python list, of any id type. The ids append
    to the live generation's ``tombstones`` — no data rewrite; the
    deleted rows stop being returned by the query IMMEDIATELY
    (anti-join at read). Compaction applies tombstones physically and
    the new generation starts without them — the Lucene
    delete-then-merge lifecycle. A BM25 index keeps its pre-delete
    df/n_docs/avgdl until then (deleted docs still damp idf until
    segments merge); compaction recomputes them from the survivors,
    zero-token docs included (the ``empty_docs`` family).

    Takes the writer lock: a takedown landing in a snapshot that a
    concurrent compaction is about to replace would be silently
    vacuumed away with it — the lock makes that a loud refusal
    instead (retry after maintenance)."""
    kind = _index_kind(path)
    ids = one_column_ids(spark, ids, kind["id_col"], "index_delete")
    with index_writer_lock(path, "index_delete"):
        meta = read_index_meta(os.path.join(path, kind["meta"]))
        ids.write.mode("append").parquet(gen_dir(path, "tombstones", meta))


def index_vacuum(path: str, min_age_sec: float = 0.0) -> list[str]:
    """Remove every data-dir generation the index metadata does NOT
    reference — both STALE generations (pre-flip snapshots kept so
    in-flight readers finish against complete data) and ORPHANS (a
    maintenance op crashed after writing its new generation but before
    the metadata flip, so the dir was never published). Returns the
    removed directory names (empty = nothing to do).

    The grace-period contract is the operator's (Delta VACUUM's rule):
    run it only after every query that could have resolved an old
    generation has finished — the pointer flip is atomic, so any query
    STARTED after the flip is already on the live generation.
    ``min_age_sec`` mechanizes it: a generation whose directory mtime
    is more recent than that is SKIPPED (returned next time), so a
    scheduled ``index_vacuum(min_age_sec=2 * longest_query)`` can never
    pull files out from under a straggler. The mtime is the RETIRE
    time, not the last write: every publish stamps the outgoing
    generations (`publish_generation`) — Delta VACUUM likewise ages
    from logical removal. Takes the writer lock: racing a live
    compaction could delete the generation it is about to publish."""
    import time

    kind = _index_kind(path)
    with index_writer_lock(path, "index_vacuum"):
        meta = read_index_meta(os.path.join(path, kind["meta"]))
        cur = int(meta.get("gen", 0))
        removed = []
        now = time.time()
        for name, gens in list_index_generations(path, kind["families"]).items():
            for g in gens:
                if g == cur:
                    continue
                target = os.path.join(path, gen_suffix(name, g))
                if min_age_sec > 0:
                    try:
                        age = now - os.path.getmtime(target)
                    except OSError:
                        continue
                    if age < min_age_sec:
                        continue  # inside the grace period — next time
                shutil.rmtree(target)
                removed.append(os.path.basename(target))
        return sorted(removed)


def index_expire(spark: SparkSession, path: str, min_src_batch: int) -> int:
    """Retention for a format-2 serving index: physically drop every
    row whose ingest generation (``src_batch``, stamped at append) is
    older than ``min_src_batch`` — the freshness-bounded-corpus policy
    (`expire_index` applied to a serving store). Build rows
    (``src_batch = -1``) never expire; age them out by rebuilding over
    a newer corpus. Runs as a compaction (replay dedup + tombstones +
    recomputed counters; a BM25 doc both tombstoned and expired comes
    off the stats exactly once). Returns the data-file count after."""
    kind = _index_kind(path)
    meta = read_index_meta(os.path.join(path, kind["meta"]))
    if int(meta.get("format", 1)) < 2:
        raise ValueError(
            f"index_expire needs a format-2 index (src_batch-stamped rows); "
            f"rebuild the legacy index at {path} first"
        )
    return kind["compact"](spark, path, min_src_batch)


def index_maintain(
    spark: SparkSession,
    path: str,
    compact_after: int = 64,
    vacuum_min_age_sec: float = 0.0,
) -> dict:
    """One-call ops runbook for a serving index: heal → compact-if-needed
    → vacuum → verify. `index_fsck` reports; this ACTS — a crashed
    metadata commit, a dead writer's lock, accreted append files,
    pending takedowns, and retired/orphaned generations all return to
    clean in one call.

    1. `heal_index_artifacts` — remove an orphaned metadata ``.tmp``;
       reclaim a provably-dead same-host writer lock (a live/foreign
       holder is left to refuse loudly below). A BM25 index then flips
       its legacy ``empties_tracked`` flag when that is free
       (`text_index_upgrade_empties(strict=False)`, reported as
       ``empties_upgrade``);
    2. compaction when the live generation is under pressure — MAX
       data files in any one partition directory above
       ``compact_after`` (`serving_layout_pressure`: per-directory, so
       the metric settles to 1 after the fold and maintain is
       idempotent) — or tombstones are pending (a maintain pass lands
       takedowns physically);
    3. `index_vacuum(vacuum_min_age_sec)` — drop retired/orphaned
       generations past the grace period;
    4. `index_fsck` — the post-state, status lifted to top level.

    Returns ``{"healed", "compacted", "vacuumed", "fsck", "status"}``.
    Single-writer like every maintenance op; schedule it between
    ingest windows, or let
    `streaming/scoring.prepared_serving_sink(maintain_every_n=...)`
    run it on cadence."""
    kind = _index_kind(path)
    report: dict = {"healed": heal_index_artifacts(path, kind["meta"])}
    report.update(kind["upgrade"](spark, path))
    meta = read_index_meta(os.path.join(path, kind["meta"]))
    pressure = serving_layout_pressure(gen_dir(path, kind["data"], meta))
    tombs = os.path.isdir(gen_dir(path, "tombstones", meta))
    report["compacted"] = pressure > compact_after or tombs
    if report["compacted"]:
        kind["compact"](spark, path, None)
    report["vacuumed"] = index_vacuum(path, vacuum_min_age_sec)
    report["fsck"] = index_fsck(spark, path)
    report["status"] = report["fsck"]["status"]
    return report


def index_fsck(spark: SparkSession, path: str) -> dict:
    """Read-only ops doctor for a serving index. Returns::

        {"status": "ok" | "attention", "findings": [str, ...],
         "meta": {...}, "measured": {...}, "generations": {...}}

    Checks, cheapest first: filesystem artifacts
    (`index_artifact_findings`: stale writer lock, orphaned metadata
    ``.tmp``, crashed-swap leftovers); metadata readability (torn JSON
    reports as a finding instead of raising); orphan generations
    (`generation_findings`); duplicate rows in the data family (count
    vs full-row distinct — a crash-window replay pending heal); pending
    tombstones (hidden at read by design); then the store's own checks
    — BM25: n_docs/total_dl counter drift and df-log consistency; IVF:
    stored dims, list-id range, the PQ tier, row-counter drift. Run it
    at maintenance cadence, not per query."""
    kind = _index_kind(path)
    findings = index_artifact_findings(path, kind["meta"], kind["families"])
    report: dict = {"meta": None, "measured": {}}
    try:
        meta = read_index_meta(os.path.join(path, kind["meta"]))
    except ValueError as e:
        findings.append(str(e))
        report["status"] = "attention"
        report["findings"] = findings
        return report
    report["meta"] = meta
    gen_f, report["generations"] = generation_findings(path, meta, kind["families"])
    findings.extend(gen_f)

    data = spark.read.parquet(gen_dir(path, kind["data"], meta))
    # distinct over a STRUCT: a multi-argument count_distinct skips any
    # row holding a NULL column, miscounting it as a duplicate
    n_rows, n_distinct = data.select(
        F.count(F.lit(1)), F.count_distinct(F.struct(*data.columns))
    ).first()
    if n_rows != n_distinct:
        findings.append(
            f"{n_rows - n_distinct} duplicate rows in {kind['data']} "
            f"(crash-window replay pending heal) — compaction removes them"
        )
    tpath = gen_dir(path, "tombstones", meta)
    if os.path.isdir(tpath):
        n_tomb = spark.read.parquet(tpath).distinct().count()
        findings.append(
            f"{n_tomb} pending tombstones (hidden at read; compaction "
            f"applies them physically)"
        )
    report["measured"], store_f = kind["checks"](
        spark, path, meta, data, int(n_distinct)
    )
    findings.extend(store_f)
    report["status"] = "ok" if not findings else "attention"
    report["findings"] = findings
    return report


#: Reserved batch id for a compaction's PUBLISH directory: the folded
#: base becomes visible here (readers' strictly-earlier ``batch_id < N``
#: filter includes it — every negative id is earlier than every real
#: batch) BEFORE any folded source dir is removed, so the store never
#: transiently loses a row. -3 because -1 is the base and -2 is taken by
#: `operators/spans.MIGRATED_ORIGIN` (a src_batch value, different
#: column, but distinct numbers keep forensics unambiguous). The
#: streaming sinks only ever write ids >= 0.
PENDING_BASE_ID = -3


def pending_base_dir(index_path: str) -> str:
    return os.path.join(index_path, f"batch_id={PENDING_BASE_ID}")


def heal_pending_base(index_path: str) -> bool:
    """Complete a crashed store compaction/expiry/migration: if the
    PUBLISH directory (``batch_id=-3``) exists, the crash happened
    after every folded row became visible there — finishing is pure
    bookkeeping: remove the source dirs its ``_folded.json`` manifest
    names (their rows all live in the publish dir) and rename it into
    place as the ``batch_id=-1`` base. Also clears a lone
    ``<path>.__compact__`` scratch dir (never published, so the live
    store cannot reference it) — but REFUSES while a legacy
    ``<path>.__old__`` exists, because a legacy rename-swap crash may
    have parked the only copy of the base there (manual recovery per
    the old compact_index contract). Returns True if anything was
    healed. Idempotent; every store writer calls it first, so a crashed
    maintenance run heals on the next write or maintenance op."""
    old = index_path.rstrip("/") + ".__old__"
    if os.path.exists(old):
        raise ValueError(
            f"{old} exists — a legacy compaction crashed mid-swap and may "
            f"hold the only copy of the base; recover it manually (move "
            f"missing batch_id=* dirs back) before any store write"
        )
    healed = False
    pending = pending_base_dir(index_path)
    if os.path.isdir(pending):
        manifest = os.path.join(pending, "_folded.json")
        try:
            with open(manifest) as f:
                folds = json.load(f)["folds"]
        except (OSError, json.JSONDecodeError, KeyError) as e:
            raise ValueError(
                f"{pending} exists without a readable _folded.json "
                f"({e}) — the publish rename is atomic so this should "
                f"be impossible; inspect the store before proceeding"
            ) from e
        for i in folds:
            d = os.path.join(index_path, f"batch_id={i}")
            if os.path.exists(d):
                shutil.rmtree(d)
        os.rename(pending, os.path.join(index_path, "batch_id=-1"))
        healed = True
    tmp = index_path.rstrip("/") + ".__compact__"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # unpublished scratch — safe by construction
        healed = True
    return healed


def _publish_folded_base(index_path: str, tmp: str, folds: list) -> None:
    """The duplicates-only commit sequence shared by `compact_index`,
    `expire_index`, and `migrate_span_store_origins`: stamp the manifest
    into the scratch dir, rename it to the PUBLISH dir (every folded row
    now visible twice — idempotent for the set-semantics signature
    stores, collapsed by `operators/spans.dedup_span_store`'s
    (gh, origin) guard for the count-summing gram store), remove the
    folded source dirs, rename publish -> base. A crash at ANY point
    leaves either untouched sources + unpublished scratch, or the
    publish dir whose manifest lets `heal_pending_base` finish the job
    mechanically — rows are never transiently missing (the old ordering
    had a two-rename window where the base was)."""
    with open(os.path.join(tmp, "_folded.json"), "w") as f:
        json.dump({"folds": [int(i) for i in folds]}, f)
        f.flush()
        os.fsync(f.fileno())  # the publish rename must never outrun the
        # manifest's data blocks — heal_pending_base depends on reading it
    pending = pending_base_dir(index_path)
    os.rename(tmp, pending)  # PUBLISH — duplicates only from here on
    for i in folds:
        d = os.path.join(index_path, f"batch_id={i}")
        if os.path.exists(d):
            shutil.rmtree(d)
    os.rename(pending, os.path.join(index_path, "batch_id=-1"))


def compact_index(
    spark: SparkSession,
    index_path: str,
    target_mb: int = 128,
    keep_last: int = 1,
) -> int:
    """Fold old ``batch_id=N`` partitions of an incremental-dedup store
    (`streaming/scoring.py::incremental_ingest_sink` layout) into ONE
    ``batch_id=-1`` base generation; returns the number of partitions
    folded (0 = nothing to do).

    The streaming sink accretes one directory per micro-batch, so the
    index read in every later batch pays per-partition listing + footer
    costs that grow without bound. Folding into ``batch_id=-1`` keeps
    the sink's idempotency contract intact for COMMITTED batches: -1 is
    earlier than every real id, so the strictly-earlier retry guard
    (``batch_id < N``) still sees the base. The newest ``keep_last``
    batches are NOT folded — the last batch may replay after a crash
    (written but not checkpoint-committed), and folding its rows into
    the base would make the replay match its own delta and drop every
    survivor. Same single-writer rule as `compact_files`: run between
    stream restarts, never under a live writer.

    Crash-safety (publish-then-retire): for a dedup index the
    failure modes are asymmetric — a transient DUPLICATE signature row
    is idempotent for `dedup_against_index` (same match set; the
    count-summing span store collapses duplicates by (gh, origin) at
    read), while a transiently MISSING row silently admits duplicates.
    So the fold commits through `_publish_folded_base`: the new base
    appears as the reserved ``batch_id=-3`` PUBLISH dir (visible to
    every reader's strictly-earlier filter) BEFORE any folded source
    dir is removed, then renames into place — rows are never
    transiently missing, at any crash point. A crashed run leaves
    either unpublished scratch (auto-removed) or the publish dir with
    its ``_folded.json`` manifest, which `heal_pending_base` — called
    here, by `expire_index`, by the migration, and by the streaming
    sinks at batch start — finishes mechanically. Only a legacy
    rename-swap ``<path>.__old__`` still demands manual recovery (it may
    hold the only copy of the base) and is refused."""
    prefix = "batch_id="
    heal_pending_base(index_path)
    try:
        ids = sorted(
            int(d[len(prefix):])
            for d in os.listdir(index_path)
            if d.startswith(prefix)
        )
    except FileNotFoundError:
        raise ValueError(f"{index_path} does not exist")
    if not ids:
        raise ValueError(
            f"{index_path} has no batch_id=* partitions — not an "
            f"incremental-store layout (use compact_files for plain dirs)"
        )
    live = [i for i in ids if i >= 0]
    fold = ([-1] if -1 in ids else []) + live[: max(0, len(live) - keep_last)]
    if fold == [] or fold == [-1]:
        return 0

    fold_dirs = [os.path.join(index_path, f"{prefix}{i}") for i in fold]
    size_bytes = 0
    for d in fold_dirs:
        for root, _dirs, files in os.walk(d):
            for f in files:
                if not f.startswith(("_", ".")):
                    size_bytes += os.path.getsize(os.path.join(root, f))
    n_files = max(1, -(-size_bytes // (target_mb * 1024 * 1024)))

    df = (
        spark.read.option("basePath", index_path)
        .option("mergeSchema", "true")  # an existing base carries src_batch
        .parquet(*fold_dirs)
    )
    # preserve each row's ORIGIN batch through the fold: batch_id
    # becomes the payload column src_batch so `expire_index` can age the
    # base by real ingest batch. Rows folded from a legacy base keep
    # src_batch=-1 — origin unknown, never expires (documented there).
    src = (
        F.coalesce(F.col("src_batch"), F.col("batch_id"))
        if "src_batch" in df.columns
        else F.col("batch_id")
    )
    folded = df.withColumn("src_batch", src).drop("batch_id")
    # apply forget_ids tombstones physically to the rows being folded
    # (signature stores carry an 'id' column; the span gram store does
    # not and is untouched). Rows in unfolded keep_last dirs keep their
    # read-side anti-join until they fold.
    dead = None
    if "id" in folded.columns:
        dead = store_tombstones(spark, index_path)
    if dead is not None:
        folded = folded.join(F.broadcast(dead), "id", "left_anti")
    tmp = index_path.rstrip("/") + ".__compact__"
    folded.repartition(n_files).write.mode("overwrite").parquet(tmp)
    _publish_folded_base(index_path, tmp, fold)
    return len(fold)


def one_column_ids(spark: SparkSession, ids, id_col: str, op: str) -> DataFrame:
    """Normalize a takedown id set (small Python list or one-column
    DataFrame) to a single-column DataFrame named ``id_col``. A
    multi-column DataFrame is REFUSED with the contract named — the
    bare ``toDF(id_col)`` it replaces threw an arity error that named
    toDF instead; silently picking a column would be
    worse (the wrong one tombstones the wrong documents)."""
    if not isinstance(ids, DataFrame):
        return spark.createDataFrame([(i,) for i in ids], [id_col])
    if len(ids.columns) != 1:
        raise ValueError(
            f"{op} takes a ONE-column id DataFrame (got columns "
            f"{ids.columns}) — select the id column explicitly; guessing "
            f"which of several columns holds the ids would tombstone the "
            f"wrong rows"
        )
    return ids.toDF(id_col)


def forget_ids(spark: SparkSession, index_path: str, ids, id_col: str = "id") -> None:
    """Right-to-be-forgotten for an incremental-dedup SIGNATURE store:
    after forgetting, the store behaves as if the doc was never
    ingested — a future duplicate of a forgotten doc is NOT suppressed.
    ``ids`` is a one-column DataFrame or a small Python list.

    Tombstones land in the SIBLING directory ``<path>.tombstones``
    (inside the store they would pollute the ``batch_id=`` partition
    discovery). `incremental_ingest_sink` anti-joins them at every index
    read; `compact_index` applies them physically to the rows it folds.
    Tombstones are never auto-cleared — unfolded ``keep_last`` dirs may
    still carry the rows — so the read-side filter stays (a broadcast
    anti-join against a takedown-sized set; prune manually once every
    pre-forget batch has folded)."""
    ids = one_column_ids(spark, ids, id_col, "forget_ids")
    ids.write.mode("append").parquet(
        index_path.rstrip("/") + ".tombstones"
    )


def store_tombstones(spark: SparkSession, index_path: str, id_col: str = "id"):
    """The store's forgotten-id relation, or None if nothing was ever
    forgotten (the common case pays one os.path check)."""
    tpath = index_path.rstrip("/") + ".tombstones"
    if not os.path.isdir(tpath):
        return None
    return spark.read.parquet(tpath).toDF(id_col)


def store_has_committed_batch(index_path: str) -> bool:
    """Whether an incremental store holds a committed batch: a
    ``batch_id=*`` dir with a data file. Spark's file commit moves data
    files into place only at job commit, and partition discovery skips
    ``_``/``.`` names, so a store without one has nothing to read."""
    if not os.path.isdir(index_path):
        return False
    return any(
        not f.startswith(("_", "."))
        for d in os.listdir(index_path)
        if d.startswith("batch_id=")
        for f in os.listdir(os.path.join(index_path, d))
    )


def store_fsck(
    spark: SparkSession,
    index_path: str,
    compact_after: int = 64,
) -> dict:
    """Ops doctor for an incremental-dedup store (the `batch_id=N`
    layout the streaming sinks write) — the third fsck, completing the
    symmetry with the serving indexes' `index_fsck`. Read-only;
    returns ``{"status": "ok" | "attention", "findings": [...],
    "measured": {...}}``. Checks, cheapest first:

    * crash artifacts: a legacy rename-swap ``__old__`` (may hold the only
      copy of the base — manual recovery), a pending ``batch_id=-3``
      publish dir (a crashed publish-then-retire run — healed by the
      next store write or `heal_pending_base`; rows are duplicated,
      never missing), a lone ``__compact__`` scratch (auto-cleaned by
      the next writer);
    * layout pressure: live ``batch_id=N`` dir count vs
      ``compact_after`` — the sink pays per-partition listing + footer
      costs on every batch, so an unbounded dir count is the store's
      scale failure mode (run `compact_index`);
    * pending forget tombstones (hidden at read; applied physically at
      the next fold);
    * duplicate rows pending heal: full-row duplicates for a signature
      store ('id' column), duplicate (gh, origin) keys for the
      count-summing span store ('gh' column) — either means a crashed
      publish is mid-heal (collapsed at read, removed by compaction);
    * provenance-free base rows (``src_batch`` -1/NULL/absent): the
      base cannot be aged by `expire_index` until
      `migrate_span_store_origins` (span stores) or a rebuild restores
      origins.

    A couple of column-pruned aggregates over the store; run at
    maintenance cadence, not per batch."""
    findings: list = []
    report: dict = {"measured": {}}
    prefix = "batch_id="

    old = index_path.rstrip("/") + ".__old__"
    if os.path.exists(old):
        findings.append(
            f"{os.path.basename(old)} leftover — a legacy compaction "
            f"crashed mid-swap and may hold the only copy of the base; "
            f"recover manually before any store write"
        )
    if os.path.isdir(pending_base_dir(index_path)):
        findings.append(
            "batch_id=-3 publish dir pending — a compaction/expiry "
            "crashed after publishing (rows duplicated, never missing); "
            "heal_pending_base or any store write finishes it"
        )
    if os.path.exists(index_path.rstrip("/") + ".__compact__"):
        findings.append(
            ".__compact__ scratch leftover — unpublished, auto-cleaned "
            "by the next store write"
        )

    try:
        ids = sorted(
            int(d[len(prefix):])
            for d in os.listdir(index_path)
            if d.startswith(prefix)
        )
    except FileNotFoundError:
        raise ValueError(f"{index_path} does not exist")
    live = [i for i in ids if i >= 0]
    report["measured"]["batch_dirs"] = len(live)
    report["measured"]["has_base"] = -1 in ids
    if len(live) > compact_after:
        findings.append(
            f"{len(live)} live batch_id dirs (> {compact_after}) — every "
            f"sink batch pays their listing/footer costs; run compact_index"
        )

    dead = store_tombstones(spark, index_path)
    if dead is not None:
        n_tomb = dead.distinct().count()
        report["measured"]["pending_forgets"] = n_tomb
        findings.append(
            f"{n_tomb} pending forget tombstones (hidden at read; applied "
            f"physically at the next compact_index fold)"
        )

    if ids:
        df = spark.read.option("mergeSchema", "true").parquet(index_path)
        cols = set(df.columns)
        # a crash copy differs from its original only in LAYOUT columns
        # (batch_id=-3 vs the live dir; src_batch materialized vs
        # inherited), so duplicate detection compares payload identity
        # plus the coalesced ORIGIN — the same identity the read guards
        # and the fold use
        origin = (
            F.coalesce(F.col("src_batch"), F.col("batch_id"))
            if "src_batch" in cols
            else F.col("batch_id")
        )
        payload = [
            F.col(c) for c in df.columns if c not in ("batch_id", "src_batch")
        ]
        if "gh" in cols:
            n_rows, n_keys = df.select(
                F.count(F.lit(1)),
                F.count_distinct(F.col("gh"), origin),
            ).first()
            report["measured"]["rows"] = int(n_rows)
            if n_rows != n_keys:
                findings.append(
                    f"{n_rows - n_keys} duplicate (gh, origin) rows "
                    f"(crash-window publish — collapsed by the "
                    f"dedup_span_store read guard); compact_index removes "
                    f"them physically"
                )
        else:
            # identity wrapped in ONE struct: count(DISTINCT c1..cn)
            # skips rows where ANY expression is NULL, and mixed-schema
            # stores legitimately carry NULLs (optional columns like
            # 'bands' on pre-upgrade rows) — a struct is never NULL, so
            # every row counts
            n_rows, n_distinct = df.select(
                F.count(F.lit(1)),
                F.count_distinct(F.struct(*payload, origin.alias("__o"))),
            ).first()
            report["measured"]["rows"] = int(n_rows)
            if n_rows != n_distinct:
                findings.append(
                    f"{n_rows - n_distinct} duplicate signature rows "
                    f"(crash-window publish pending heal — idempotent for "
                    f"dedup); compact_index removes them"
                )
        if -1 in ids:
            base = spark.read.parquet(
                os.path.join(index_path, f"{prefix}-1")
            )
            if "src_batch" not in base.columns:
                findings.append(
                    "base has no src_batch column (legacy compaction) — "
                    "expire_index will refuse; rebuild the store or "
                    "migrate to restore provenance"
                )
            else:
                n_unknown = base.filter(
                    F.col("src_batch").isNull() | (F.col("src_batch") == -1)
                ).count()
                if n_unknown:
                    findings.append(
                        f"{n_unknown} provenance-free base rows "
                        f"(src_batch -1/NULL) — not crash-dedupable and "
                        f"never expire; migrate_span_store_origins (span "
                        f"stores) restores both"
                    )

    report["status"] = "ok" if not findings else "attention"
    report["findings"] = findings
    return report


def serving_layout_pressure(d: str) -> int:
    """MAX data files in any one leaf partition directory — the
    serving-layout pressure metric `index_maintain` compacts on.
    Per-directory (not total): a query pays listing + footer costs
    per PROBED directory, and compaction folds each directory to one
    file, so this metric settles to 1 after a compact — a total-count
    threshold would never settle below `n_partitions` and a maintain
    loop would recompact forever. Pure os.walk, no Spark job."""
    worst = 0
    for _root, _dirs, files in os.walk(d):
        n = sum(1 for f in files if not f.startswith(("_", ".")))
        worst = max(worst, n)
    return worst


def store_maintain(
    spark: SparkSession,
    index_path: str,
    compact_after: int = 64,
    keep_last: int = 1,
    target_mb: int = 128,
) -> dict:
    """One-call ops runbook for an incremental-dedup store: heal → compact-if-pressure → verify. The doctor trio reports;
    this ACTS — a planted crashed publish, accreted batch dirs, or
    leftover scratch returns to clean in one call.

    1. `heal_pending_base` — finish a crashed publish-then-retire run
       mechanically (refuses only on a legacy rename-swap ``__old__``, whose
       manual-recovery contract stands);
    2. compact when the live ``batch_id=N`` dir count exceeds
       ``compact_after`` — the same pressure threshold `store_fsck`
       reports on (per-batch listing/footer cost is the store's scale
       failure mode), and compaction also folds pending forget
       tombstones and crash-replay duplicates physically;
    3. `store_fsck` — the post-state, returned as ``fsck`` with its
       status lifted to the top level.

    Returns ``{"healed", "compacted", "fsck", "status"}``."""
    report: dict = {
        "healed": bool(heal_pending_base(index_path)),
        "compacted": 0,
    }
    prefix = "batch_id="
    try:
        live = [
            i
            for i in (
                int(d[len(prefix):])
                for d in os.listdir(index_path)
                if d.startswith(prefix)
            )
            if i >= 0
        ]
    except FileNotFoundError:
        raise ValueError(f"{index_path} does not exist")
    if len(live) > compact_after:
        report["compacted"] = compact_index(
            spark, index_path, target_mb=target_mb, keep_last=keep_last
        )
    report["fsck"] = store_fsck(spark, index_path, compact_after=compact_after)
    report["status"] = report["fsck"]["status"]
    return report


def expire_index(
    spark: SparkSession,
    index_path: str,
    min_batch_id: int,
) -> dict:
    """Retention policy for an incremental-dedup store: remove every
    signature that entered before batch ``min_batch_id`` — the
    reference's online-store TTL (`02_geofraud_fraud.py:286`, a 7-day
    `expireAfterSeconds` on model state) applied to corpus dedup state.
    After expiry, re-ingested copies of aged-out documents are admitted
    again — the intended semantics when a corpus has a freshness
    horizon (pair with `streaming/scoring.profile_sink` +
    `profiling.profile_drift` to monitor what re-enters).

    Returns ``{"batches_removed": n, "base_rows_removed": m}``.

    Mechanics: whole ``batch_id=N`` partitions with ``0 <= N <
    min_batch_id`` are deleted outright; a compacted ``batch_id=-1``
    base is age-filtered on its ``src_batch`` column (written by
    `compact_index` — each folded row keeps its origin batch). A base
    WITHOUT ``src_batch`` (a legacy compaction) cannot be aged and
    raises — its rows' origins are unrecoverable; rebuild the store or
    accept the base as immortal. Rows folded from such a legacy base by
    a NEWER compaction carry ``src_batch=-1``: unknown origin expires
    with the oldest data (``-1 < min_batch_id`` always) — the
    freshness-conservative reading of "older than the horizon".

    Crash-safety matches `compact_index` (publish-then-retire): the
    filtered base is written to scratch and committed through
    `_publish_folded_base` — visible as the ``batch_id=-3`` publish dir
    before the old base is removed, so UNEXPIRED rows are never
    transiently missing (expired rows are meant to go; whole expired
    batch dirs are simply rmtree'd, and a crash mid-delete re-runs to
    completion). The replay guard is untouched: surviving partitions
    keep their ids, so a replayed batch N still reads strictly-earlier
    state. Single-writer rule: run between stream restarts; a crashed
    run heals via `heal_pending_base` on the next store op."""
    if min_batch_id < 0:
        raise ValueError(f"min_batch_id must be >= 0, got {min_batch_id}")
    prefix = "batch_id="
    heal_pending_base(index_path)
    try:
        ids = sorted(
            int(d[len(prefix):])
            for d in os.listdir(index_path)
            if d.startswith(prefix)
        )
    except FileNotFoundError:
        raise ValueError(f"{index_path} does not exist")
    if not ids:
        raise ValueError(
            f"{index_path} has no batch_id=* partitions — not an "
            f"incremental-store layout"
        )
    expire = [i for i in ids if 0 <= i < min_batch_id]
    base = os.path.join(index_path, f"{prefix}-1")
    base_rows_removed = 0

    if -1 in ids:
        bdf = spark.read.parquet(base)
        if "src_batch" not in bdf.columns:
            raise ValueError(
                f"{base} has no src_batch column (legacy compaction) — "
                f"its rows' origin batches are unrecoverable, so it "
                f"cannot be aged; rebuild the store to apply retention"
            )
        keep = bdf.filter(F.col("src_batch") >= min_batch_id)
        n_before = bdf.count()
        n_keep = keep.count()
        base_rows_removed = n_before - n_keep
        if base_rows_removed > 0:
            tmp = index_path.rstrip("/") + ".__compact__"
            keep.write.mode("overwrite").parquet(tmp)
            _publish_folded_base(index_path, tmp, [-1])

    for i in expire:
        # expired rows are MEANT to vanish; a crash mid-delete just
        # re-runs to completion (each dir removal is independent)
        shutil.rmtree(os.path.join(index_path, f"{prefix}{i}"))
    return {"batches_removed": len(expire), "base_rows_removed": base_rows_removed}
