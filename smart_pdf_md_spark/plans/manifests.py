"""Per-stage manifest commits + resume (S9/J4/R4 made real).

The reference parses `--resume` and never consults it (cli.py:339-341, the
unused global core.py:47 — verified dead, SURVEY.md §2.7 R4); its only run
record is a rotating log file (core.py:156-199). The north_rule requires the
real thing: "every stage checkpoints per-partition triple counts + sha256
manifests ... so a killed run resumes from the last committed snapshot."

On a real cluster this layer is Iceberg: snapshot-atomic commits, the
manifest table partitioned by run. The sandbox has no Iceberg jar
(SURVEY.md §7), so the same protocol runs on parquet + an atomic marker
file, behind one small interface:

    run_dir/<stage>/data/b_<run_id>/      one immutable batch dir per commit
    run_dir/<stage>/manifest_<run_id>.json  {"stage", "run_id", "key_cols",
                                           "batches": [{"batch", "row_count",
                                           "digest_xxh64"}, ...]} — one
                                           entry per batch of the snapshot
    run_dir/<stage>/_COMMITTED            JSON snapshot pointer, published
                                          LAST via temp-file + os.replace:
                                          {"run_id", "batches", "manifest"}
    run_dir/<stage>/_COMMIT_LOCK          per-stage writer lock (hardlink-
                                          published {pid, token, start}
                                          file; dead holders stolen) — the
                                          catalog-CAS stand-in that stops
                                          concurrent appends losing batches

Snapshot semantics (the Iceberg commit protocol on plain parquet): readers
resolve the marker and read ONLY the batch dirs it lists. A run killed
between data-write and marker-write leaves an orphaned batch dir that no
reader ever sees — in particular an interrupted incremental APPEND cannot
poison `pending_inputs` into serving half-committed rows under the old
run_id (ADVICE r1). Each entry's `digest_xxh64` is an order-insensitive
digest (bit_xor of per-row xxhash64 over the key columns), so two runs of
the same input can be compared without sorting — the A4 progress/metrics
analogue.

One entry per BATCH, measured in the write itself: `commit_stage` attaches
the row count and digest to the data write as a `DataFrame.observe`
metric, so a commit is one Spark job — no re-scan of what it just wrote and
no shuffle to group it. The batch is the unit the protocol publishes,
appends and resumes, so an append copies the earlier entries and measures
only its own batch. Per-partition entries (the pre-JSON format) recorded
the read-time split layout, which moves with the scan-split settings;
the per-batch entry does not. The manifest is a small JSON file, so
`read_manifest`, `stage_global_digest`, `stage_rows` and `run_report` read
it on the driver without a Spark job. Legacy parquet manifests (one row per
read partition; pre-r3 ones name the digest `sha256_agg`) stay readable
and fold into one entry for the whole snapshot.

File-level incremental resume (J4): `pending_inputs` anti-joins the input
against the file_ids already present in a committed mentions stage, so an
interrupted extraction pass reprocesses only uncommitted files.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _stage_dir(run_dir: str, stage: str) -> str:
    return os.path.join(run_dir, stage)


def _read_marker(run_dir: str, stage: str) -> dict | None:
    """Resolve the committed snapshot pointer; None if not committed."""
    marker = os.path.join(_stage_dir(run_dir, stage), "_COMMITTED")
    if not os.path.exists(marker):
        return None
    with open(marker) as f:
        raw = f.read().strip()
    try:
        d = json.loads(raw)
        if isinstance(d, dict) and "run_id" in d:
            return d
    except ValueError:
        pass
    # legacy plain-run_id marker: the whole data dir is the committed view
    return {"run_id": raw or None, "batches": None,
            "manifest": "manifest.parquet"}


def _proc_start(pid: int) -> str | None:
    """Kernel start-time ticks of `pid` (/proc/<pid>/stat field 22) — a
    recycling-proof identity token: a reused pid gets a new start time.
    World-readable, so it works for other users' processes too. None when
    the pid does not exist or /proc is unavailable (non-Linux)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read().decode("ascii", "replace")
        # comm (field 2) may contain spaces/parens — split after the LAST ')'
        return stat.rsplit(")", 1)[1].split()[19]  # field 22, 0-indexed 19
    except (OSError, IndexError):
        return None


def _read_lock(path: str) -> tuple[int, str | None, str | None]:
    """→ (pid, token, start). Accepts the pre-r4 plain-pid format."""
    try:
        raw = open(path).read().strip()
    except OSError:
        return 0, None, None
    try:
        d = json.loads(raw)
        return int(d.get("pid", 0)), d.get("token"), d.get("start")
    except (ValueError, TypeError, AttributeError):
        try:
            return int(raw or "0"), None, None
        except ValueError:
            return 0, None, None


def _holder_dead(pid: int, start: str | None) -> bool:
    """A lock holder is provably dead when its pid is gone, or when the pid
    exists but belongs to a DIFFERENT process (start-time mismatch — pid
    recycling, ADVICE r3). kill(pid, 0) alone can neither distinguish a
    recycled pid nor probe another user's process (PermissionError)."""
    if not pid:
        return True  # unreadable/empty lock: treat as a torn write, steal it
    cur = _proc_start(pid)
    if cur is None:
        # no /proc entry → double-check via signal 0 (covers non-Linux)
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return True
        except PermissionError:
            return False  # alive, other user, no /proc — conservatively held
        return False
    if start is not None and cur != start:
        return True  # pid recycled: same number, different process
    return False  # alive (legacy pid-only locks: alive pid ⇒ held)


@contextlib.contextmanager
def _commit_lock(sdir: str, timeout: float = 300.0, poll: float = 0.05):
    """Serialize commits per stage dir — the sandbox stand-in for Iceberg's
    catalog CAS. Without it, two concurrent appends both read the same prior
    snapshot and the second pointer swap silently drops the first's batch
    (classic lost update). The lock is a hardlink-published file recording
    {pid, token, start-time}; a holder that died mid-commit (SIGKILL) — or
    whose pid was recycled by an unrelated process — is detected and stolen.

    Steal protocol (ADVICE r3 race): the stale lock is os.rename'd to a
    unique temp name FIRST — rename is atomic and exactly one contender
    succeeds — then the winner retries the atomic create. The old
    remove-then-create steal let two waiters both observe the dead holder,
    waiter B's remove delete waiter A's freshly created lock, and both
    enter the critical section."""
    os.makedirs(sdir, exist_ok=True)
    path = os.path.join(sdir, "_COMMIT_LOCK")
    token = uuid.uuid4().hex
    payload = json.dumps({"pid": os.getpid(), "token": token,
                          "start": _proc_start(os.getpid())})
    # Publish the lock ATOMICALLY WITH its payload (ADVICE r4): under the
    # old O_EXCL-create-then-write, a waiter polling between the create and
    # the write read pid 0, declared the LIVE holder torn, and stole the
    # lock — two processes in the critical section. os.link() of a fully
    # written claim file fails with FileExistsError exactly like O_EXCL,
    # but the lock is never observable without its payload.
    claim = f"{path}.claim.{token}"
    with open(claim, "w") as f:
        f.write(payload)
    deadline = time.monotonic() + timeout
    try:
        while True:
            try:
                os.link(claim, path)
                break
            except FileExistsError:
                pid, _, start = _read_lock(path)
                if _holder_dead(pid, start):
                    # atomic steal: exactly one renamer wins; losers loop and
                    # find either the winner's fresh lock or nothing
                    with contextlib.suppress(OSError):
                        os.rename(path, f"{path}.stale.{uuid.uuid4().hex}")
                    for f in os.listdir(sdir):
                        if f.startswith("_COMMIT_LOCK.stale."):
                            with contextlib.suppress(OSError):
                                os.remove(os.path.join(sdir, f))
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(f"stage commit lock busy: {path}")
                time.sleep(poll)
    finally:
        with contextlib.suppress(OSError):
            os.remove(claim)
    try:
        yield
    finally:
        # release only OUR lock: if it was (mis)stolen, the thief's file
        # carries a different token and must survive this cleanup
        _, cur_token, _ = _read_lock(path)
        if cur_token == token:
            with contextlib.suppress(OSError):
                os.remove(path)


def _write_atomic(path: str, payload: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(payload)
    os.replace(tmp, path)  # atomic publish — the commit point


def stage_committed(run_dir: str, stage: str) -> bool:
    return _read_marker(run_dir, stage) is not None


def stage_run_id(run_dir: str, stage: str) -> str | None:
    m = _read_marker(run_dir, stage)
    return m["run_id"] if m else None


def _batch_paths(run_dir: str, stage: str, marker: dict) -> list[str]:
    data_dir = os.path.join(_stage_dir(run_dir, stage), "data")
    if marker.get("batches") is None:  # legacy layout
        return [data_dir]
    return [os.path.join(data_dir, b) for b in marker["batches"]]


def _deps_path(run_dir: str, stage: str) -> str:
    return os.path.join(_stage_dir(run_dir, stage), "_DEPS.json")


def params_hash(params: dict | None) -> str | None:
    """Canonical digest of the stage-relevant parameters, recorded in
    _DEPS.json under ``__params__``: a committed stage built with DIFFERENT
    knobs (thresholds, fractions, chunk sizes) is stale even when its
    upstream run_ids match — resuming it would silently serve data computed
    under the old knobs (ADVICE r4)."""
    if params is None:
        return None
    import hashlib as _hashlib
    return _hashlib.sha256(
        json.dumps(params, sort_keys=True, default=str).encode()).hexdigest()


def stage_fresh(run_dir: str, stage: str, deps: list[str] | None,
                params: dict | None = None) -> bool:
    """Committed AND its recorded upstream run_ids still match the current
    commits AND (when the stage takes parameters) the recorded params digest
    matches — a stage whose input was re-committed (e.g. incremental append
    to mentions) or whose knobs changed is stale and must recompute, or
    resume would silently serve results computed from the old input."""
    if not stage_committed(run_dir, stage):
        return False
    ph = params_hash(params)
    if not deps and ph is None:
        return True
    import json as _json
    dp = _deps_path(run_dir, stage)
    if not os.path.exists(dp):
        return False  # legacy commit without dep records → be safe, recompute
    with open(dp) as f:
        recorded = _json.load(f)
    if ph is not None and recorded.get("__params__") != ph:
        return False
    return all(recorded.get(d) == stage_run_id(run_dir, d)
               for d in (deps or []))


def read_stage(spark: SparkSession, run_dir: str, stage: str) -> DataFrame:
    """Committed snapshot only: reads the batch dirs the marker lists, so
    orphaned batches from a killed commit are invisible."""
    marker = _read_marker(run_dir, stage)
    if marker is None:
        raise FileNotFoundError(f"stage {stage!r} has no committed snapshot "
                                f"under {run_dir!r}")
    return spark.read.parquet(*_batch_paths(run_dir, stage, marker))


def _digest_col(key_cols: list[str]):
    """Order-insensitive digest of a set of rows: bit_xor of per-row
    xxhash64 over the key columns."""
    return F.bit_xor(F.xxhash64(*[F.col(c) for c in key_cols]))


def _entry(batch: str | None, rows: int, digest: int | None) -> dict:
    """One manifest entry; the digest (None for no rows) is stored as
    unsigned 64-bit hex."""
    return {"batch": batch, "row_count": int(rows),
            "digest_xxh64": f"{(digest or 0) & 0xFFFFFFFFFFFFFFFF:016x}"}


def _fold(entries) -> tuple[int, int]:
    """(rows, digest) of a set of entries. XOR is associative and
    commutative, so the fold does not depend on how rows were grouped."""
    rows = digest = 0
    for e in entries:
        rows += e["row_count"]
        digest ^= int(e["digest_xxh64"], 16)
    return rows, digest


def _scan_entry(spark: SparkSession, path: str, batch: str,
                key_cols: list[str]) -> dict:
    """Measure a committed batch that has no entry of its own (a snapshot
    written before per-batch manifests) by reading it back once."""
    r = spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("rows"), _digest_col(key_cols).alias("d")
    ).collect()[0]
    return _entry(batch, r["rows"], r["d"])


def _manifest(run_dir: str, stage: str, marker: dict) -> dict:
    """The committed snapshot's manifest, read on the driver: the JSON
    file as written, or a legacy parquet manifest folded into a single
    entry (``batch`` None) that covers the whole snapshot."""
    path = os.path.join(_stage_dir(run_dir, stage), marker["manifest"])
    if path.endswith(".json"):
        with open(path) as f:
            return json.load(f)
    import pyarrow.parquet as pq
    rows = pq.read_table(path).to_pylist()
    for r in rows:  # pre-r3 manifests name the digest sha256_agg
        r.setdefault("digest_xxh64", r.get("sha256_agg"))
    return {"stage": stage, "run_id": marker.get("run_id"), "key_cols": None,
            "batches": [_entry(None, *_fold(rows))]}


def _committed_manifest(run_dir: str, stage: str) -> dict:
    marker = _read_marker(run_dir, stage)
    if marker is None:
        raise FileNotFoundError(f"stage {stage!r} has no committed snapshot "
                                f"under {run_dir!r}")
    return _manifest(run_dir, stage, marker)


def read_manifest(spark: SparkSession, run_dir: str, stage: str) -> DataFrame:
    """→ (stage, batch, row_count, digest_xxh64, run_id), one row per batch
    of the committed snapshot (``run_id`` is the snapshot's). Built from the
    manifest file on the driver; no Spark job runs until it is evaluated."""
    m = _committed_manifest(run_dir, stage)
    return spark.createDataFrame(
        [(stage, e["batch"], e["row_count"], e["digest_xxh64"], m["run_id"])
         for e in m["batches"]],
        "stage string, batch string, row_count long, digest_xxh64 string, "
        "run_id string")


def commit_stage(
    df: DataFrame,
    run_dir: str,
    stage: str,
    key_cols: list[str],
    run_id: str | None = None,
    mode: str = "overwrite",
    deps: list[str] | None = None,
    params: dict | None = None,
) -> DataFrame:
    """Write a fresh immutable batch dir + per-snapshot manifest, then
    atomically publish the snapshot pointer. `mode='append'` keeps the prior
    snapshot's batches (and their manifest entries) in the new pointer; a
    kill anywhere before the pointer swap leaves the previous snapshot fully
    intact and the new batch invisible (no torn append — ADVICE r1).

    The batch's row count and digest are observed during the data write —
    the commit runs one Spark job over `df` and never re-reads it.

    Returns the stage re-read from the committed snapshot (so downstream
    stages read disk, not the live plan — lineage cut, like the CC
    checkpoints)."""
    sdir = _stage_dir(run_dir, stage)
    data_dir = os.path.join(sdir, "data")
    spark = df.sparkSession
    run_id = run_id or uuid.uuid4().hex
    # the whole commit — snapshot read, data write, pointer swap, GC —
    # runs under the per-stage lock so concurrent writers serialize and
    # GC can never collect another writer's in-flight batch
    with _commit_lock(sdir):
        prev = _read_marker(run_dir, stage) if mode == "append" else None

        prev_batches = (prev or {}).get("batches")
        if prev is not None and prev_batches is None:
            # Legacy snapshot (plain run_id marker, loose files under data/):
            # appending with only the new batch in the pointer would silently
            # drop every previously committed row (ADVICE r2). Migrate first:
            # hardlink the loose files into an immutable batch dir — the legacy
            # view stays byte-identical until the pointer swap publishes the new
            # snapshot, so a kill anywhere in between loses nothing; the loose
            # originals are GC'd only after the swap.
            prev_batches = [_migrate_legacy_data(data_dir, prev.get("run_id"))]

        # earlier batches keep their entries; a batch without one (legacy or
        # parquet-manifest snapshot, or a key change) is measured once here
        known: dict = {}
        if prev is not None and prev["manifest"].endswith(".json"):
            pm = _manifest(run_dir, stage, prev)
            if pm["key_cols"] == key_cols:
                known = {e["batch"]: e for e in pm["batches"]}
        entries = [known.get(b) or _scan_entry(
            spark, os.path.join(data_dir, b), b, key_cols)
            for b in (prev_batches or [])]

        batch = f"b_{run_id}"
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows"),
                   _digest_col(key_cols).alias("digest")) \
            .write.mode("overwrite").parquet(os.path.join(data_dir, batch))
        entries.append(_entry(batch, obs.get["rows"], obs.get["digest"]))

        batches = (prev_batches or []) + [batch]
        manifest_name = f"manifest_{run_id}.json"
        _write_atomic(os.path.join(sdir, manifest_name),
                      json.dumps({"stage": stage, "run_id": run_id,
                                  "key_cols": key_cols, "batches": entries}))

        ph = params_hash(params)
        if deps or ph is not None:
            record = {d: stage_run_id(run_dir, d) for d in (deps or [])}
            if ph is not None:
                record["__params__"] = ph
            _write_atomic(_deps_path(run_dir, stage), json.dumps(record))
        _write_atomic(os.path.join(sdir, "_COMMITTED"),
                      json.dumps({"run_id": run_id, "batches": batches,
                                  "manifest": manifest_name}))
        _gc_stage(sdir, keep_batches=set(batches), keep_manifest=manifest_name)
        return spark.read.parquet(
            *[os.path.join(data_dir, b) for b in batches])


def _migrate_legacy_data(data_dir: str, legacy_run_id: str | None) -> str:
    """Hardlink (copy if cross-device) every loose entry under data/ into a
    fresh immutable batch dir and return its name. The loose originals are
    left in place — the legacy marker keeps resolving to the exact committed
    view until the new pointer is published; _gc_stage removes them after."""
    batch = f"b_legacy_{legacy_run_id or uuid.uuid4().hex}"
    dst_root = os.path.join(data_dir, batch)
    os.makedirs(dst_root, exist_ok=True)
    for name in os.listdir(data_dir):
        if name.startswith("b_"):
            continue
        src = os.path.join(data_dir, name)
        dst = os.path.join(dst_root, name)
        if os.path.isdir(src):
            shutil.copytree(src, dst, copy_function=_link_or_copy,
                            dirs_exist_ok=True)
        else:
            _link_or_copy(src, dst)
    return batch


def _link_or_copy(src: str, dst: str) -> None:
    if os.path.exists(dst):
        return  # idempotent re-migration after a kill mid-link
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _gc_stage(sdir: str, keep_batches: set[str], keep_manifest: str) -> None:
    """After the pointer swap, drop batch dirs / manifests no snapshot
    references (orphans of killed commits, superseded overwrites) and any
    loose legacy files already migrated into a batch dir."""
    data_dir = os.path.join(sdir, "data")
    if os.path.isdir(data_dir):
        for d in os.listdir(data_dir):
            if d.startswith("b_") and d in keep_batches:
                continue
            p = os.path.join(data_dir, d)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except OSError:
                    pass
    for f in os.listdir(sdir):
        if (f.startswith("manifest_") or f == "manifest.parquet") \
                and f != keep_manifest:
            p = os.path.join(sdir, f)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                with contextlib.suppress(OSError):
                    os.remove(p)


def run_stage(
    spark: SparkSession,
    run_dir: str,
    stage: str,
    build,  # Callable[[], DataFrame]
    key_cols: list[str],
    force: bool = False,
    deps: list[str] | None = None,
    params: dict | None = None,
) -> tuple[DataFrame, bool]:
    """Resume-or-compute. Returns (stage df, was_resumed). A committed stage
    resumes only while the run_ids of its `deps` stages AND its `params`
    digest are unchanged (ADVICE r4: rerunning with different knobs must
    rebuild, not serve stale data)."""
    if not force and stage_fresh(run_dir, stage, deps, params):
        return read_stage(spark, run_dir, stage), True
    return commit_stage(build(), run_dir, stage, key_cols, deps=deps,
                        params=params), False


def pending_inputs(inputs_with_id: DataFrame, spark: SparkSession,
                   run_dir: str, stage: str) -> DataFrame:
    """J4: inputs not yet present in the committed stage (by file_id)."""
    if not stage_committed(run_dir, stage):
        return inputs_with_id
    done = read_stage(spark, run_dir, stage).select("file_id").distinct()
    return inputs_with_id.join(done, "file_id", "left_anti")


def stage_rows(run_dir: str, stage: str) -> int:
    """Committed row count of a stage, summed from its manifest on the
    driver (no Spark job)."""
    return _fold(_committed_manifest(run_dir, stage)["batches"])[0]


def stage_global_digest(spark: SparkSession, run_dir: str,
                        stage: str) -> tuple[int, int]:
    """(total_rows, global_digest) for a committed stage, folded from its
    manifest on the driver (``spark`` is not used; no job runs). Each
    entry's digest is a bit_xor over per-row xxhash64 of the key columns;
    XOR is associative/commutative, so folding the entries yields a
    LAYOUT-INVARIANT whole-stage digest — the same rows give the same value
    whatever their batches, partitions or parallelism."""
    return _fold(_committed_manifest(run_dir, stage)["batches"])


def verify_stage_digests(spark: SparkSession, run_dir_a: str, run_dir_b: str,
                         stages: list[str]) -> dict[str, dict]:
    """Cross-run verification (the A4 progress/metrics contract made
    actionable): for each stage, compare row counts and partitioning-
    invariant global digests between two run dirs — the check a 100 TB
    operator runs after a migration, a Spark upgrade, or a cluster resize
    to prove the output is row-identical without shuffling a single data
    row (manifests only)."""
    out: dict[str, dict] = {}
    for st in stages:
        ra, da = stage_global_digest(spark, run_dir_a, st)
        rb, db = stage_global_digest(spark, run_dir_b, st)
        out[st] = {"rows_a": ra, "rows_b": rb,
                   "digest_a": f"{da:016x}", "digest_b": f"{db:016x}",
                   "match": ra == rb and da == db}
    return out


def run_report(spark: SparkSession, run_dir: str) -> DataFrame:
    """→ (stage, run_id, n_rows, n_batches) — one row per COMMITTED
    stage under ``run_dir``, read entirely from the manifest layer (no
    data files touched, no Spark job until the result is evaluated): the
    audit view a pipeline operator queries to answer "what has this run_dir
    committed, how big is each stage, and under which run_id" — for
    curation runs this is the per-stage drop accounting without recomputing
    any count. Stages are discovered from the directory (anything with a
    _COMMITTED marker), so KG and curation run_dirs both report;
    uncommitted/foreign subdirectories are skipped. A legacy snapshot
    (loose files, no batch list) reports one batch."""
    rows = []
    for name in sorted(os.listdir(run_dir)):
        if not os.path.isdir(_stage_dir(run_dir, name)):
            continue
        marker = _read_marker(run_dir, name)
        if marker is None:
            continue
        n_rows, _ = _fold(_manifest(run_dir, name, marker)["batches"])
        rows.append((name, marker.get("run_id"), n_rows,
                     len(marker.get("batches") or [None])))
    return spark.createDataFrame(
        rows, "stage string, run_id string, n_rows long, n_batches long")
