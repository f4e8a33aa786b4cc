"""Manifest-committed parquet tables — atomic publish without Delta/Iceberg.

The staging-swap upsert protocol (writers.py:upsert) is honest about its
gap: two directory renames leave a crash window with no live table, and
directory rename is not atomic on object stores at all. This module
closes that gap the way every table format does — the LIVE STATE of the
table is defined by a single small manifest file, and commit is one
atomic single-file replace:

  <table>/
    data/<snapshot-uuid>/part-*.parquet   immutable once written
    _manifests/manifest-<version>-<uuid>.json
    _CURRENT                              names the live manifest

- Writers stage data files under a fresh ``data/<uuid>/`` directory and
  a new manifest listing exactly the referenced files, then publish by
  writing ``_CURRENT`` via tmp-file + ``os.replace`` (atomic on POSIX;
  the single-PUT equivalent on an object store). A crash before the
  replace leaves orphan files that are invisible to readers — the old
  version stays live, nothing is ever half-visible.
- Readers resolve ``_CURRENT`` → manifest → explicit file list. A reader
  holding a manifest is snapshot-isolated: its files are immutable and
  never referenced-for-delete until ``vacuum``.
- Version history is retained in ``_manifests/`` (time travel by passing
  ``version=``); ``vacuum`` deletes data files no retained manifest
  references.

Multi-writer coordination: commit goes through a pluggable
``compare_and_swap`` callable. The DEFAULT
(``_locked_replace_if_unchanged``) serializes the read-check +
``os.replace`` pair behind a kernel-mediated ``flock`` on a PERMANENT
lock file — so a lost update is rejected with ``CommitConflictError``
even for writers racing inside the same microsecond (writer A staged
against version N, writer B committed N+1 meanwhile → exactly one
wins), and a crashed holder's lock is released by the kernel rather
than judged stale by mtime. This is still filesystem-local: on an
object store (no atomic exclusive-create), supply the store's
conditional primitive (If-Match PUT, a database row CAS, a lock
service) through the same callable — that is precisely the feature a
lakehouse catalog adds on top of this design.

Reference parity: the reference gets real transactions from Postgres
(daily_pv_automation.py:201-224 DELETE+INSERT in one transaction); this
is the engine's scale-path equivalent for file-backed tables.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_CURRENT = "_CURRENT"
_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"

# Commit CAS signature: (current_pointer_path, tmp_pointer_path,
# expected_live_manifest_name_or_None) -> None; MUST either make
# tmp_pointer the live pointer iff the live manifest name still equals
# ``expected``, or raise CommitConflictError.
CasFn = Callable[[str, str, "str | None"], None]


class CommitConflictError(RuntimeError):
    """The table's live version moved between this writer's snapshot
    read and its commit — a lost update was prevented. Re-read the
    table and retry the operation on the new version."""


def _fsync_dir(path: str) -> None:
    # directory fsync persists the entry rename itself; without it a
    # power loss after os.replace can resurface the old pointer
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    except OSError:
        pass  # not all filesystems support directory fsync
    finally:
        os.close(fd)


def _replace_if_unchanged(current_path: str, tmp_path: str, expected: str | None) -> None:
    """Default commit CAS: re-read the pointer, reject if it moved,
    then atomically replace and fsync the directory entry.

    The re-read catches every conflict longer than the check→replace
    gap (i.e. any real concurrent job, which stages files for seconds);
    the residual microsecond TOCTOU window is documented in the module
    docstring and closed only by a genuinely conditional backend
    primitive supplied via ``compare_and_swap``."""
    try:
        with open(current_path, encoding="utf-8") as f:
            actual = f.read().strip() or None
    except FileNotFoundError:
        actual = None
    if actual != expected:
        os.remove(tmp_path)
        raise CommitConflictError(
            f"concurrent commit detected on {os.path.dirname(current_path)}: "
            f"expected live manifest {expected!r}, found {actual!r}; "
            "re-read and retry"
        )
    os.replace(tmp_path, current_path)
    _fsync_dir(os.path.dirname(current_path))


# Lock acquisition bound for the default commit CAS: a commit's
# critical section is one read + one rename (microseconds), so a
# writer that cannot acquire within _LOCK_TIMEOUT_S reports a conflict
# rather than queueing forever behind a pathological backlog.
_LOCK_TIMEOUT_S = 10.0


def _locked_replace_if_unchanged(
    current_path: str, tmp_path: str, expected: str | None
) -> None:
    """DEFAULT commit CAS: the check->replace pair of
    ``_replace_if_unchanged`` serialized behind a kernel-mediated
    ``flock(LOCK_EX)`` on a PERMANENT lock file, closing the
    read-check/replace TOCTOU window the unlocked variant documents:
    two same-parent writers racing inside the same microsecond now
    serialize, and exactly one commits.

    flock, not ``O_CREAT|O_EXCL``: an exclusive-create lock needs a
    liveness judgment for crashed holders (mtime staleness) plus a
    break step, and NO pure-rename break protocol is airtight — between
    a mistaken breaker stealing a fresh holder's lock file and
    restoring it, a third waiter's exclusive create succeeds while the
    wronged holder is still inside the critical section (observed as a
    double-entry under whole-suite host load). The kernel advisory lock
    has neither problem: a crashed holder's lock is released by the
    kernel the moment its fds close, concurrent holders are impossible
    by construction, and stale-file cleanup is a non-issue because the
    lock FILE is permanent and never unlinked (unlinking a locked path
    would let a later writer lock a NEW inode while the old holder
    still runs — the classic split-lock bug, so: never unlink).

    Each acquirer opens its own fd, so the lock excludes both threads
    in one process and separate processes (flock is per open-file-
    description). Still filesystem-local; the injectable
    ``compare_and_swap`` seam remains the route to object-store
    If-Match PUTs or a lock service for multi-node writers."""
    import fcntl

    lock = os.path.join(os.path.dirname(current_path), "._CURRENT.lock")
    fd = os.open(lock, os.O_CREAT | os.O_WRONLY, 0o644)
    try:
        deadline = time.monotonic() + _LOCK_TIMEOUT_S
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except (BlockingIOError, InterruptedError):
                if time.monotonic() > deadline:
                    os.remove(tmp_path)
                    raise CommitConflictError(
                        f"could not acquire commit lock {lock} within "
                        f"{_LOCK_TIMEOUT_S}s; another writer is committing"
                    ) from None
                time.sleep(0.005)
        # holder identity for debugging crashed-writer postmortems
        try:
            os.ftruncate(fd, 0)
            os.write(fd, f"{os.getpid()}:{threading.get_ident()}".encode())
        except OSError:
            pass
        # module-global lookup on purpose: tests inject faults by
        # patching _replace_if_unchanged, and the locked default must
        # route through the same seam
        _replace_if_unchanged(current_path, tmp_path, expected)
    finally:
        os.close(fd)  # releases the flock; the lock file stays


def _manifest_path(table: str, name: str) -> str:
    return os.path.join(table, _MANIFEST_DIR, name)


def _read_current_name(table: str) -> str | None:
    try:
        with open(os.path.join(table, _CURRENT), encoding="utf-8") as f:
            return f.read().strip() or None
    except FileNotFoundError:
        return None


def read_manifest(table: str, version: int | None = None) -> dict | None:
    """The live (or ``version``-pinned) manifest dict, or None if the
    table has never had a successful commit.

    Version pinning walks the COMMITTED parent chain from _CURRENT,
    never the manifests directory: a commit-conflict loser writes its
    manifest file BEFORE its CAS fails, so the directory can hold an
    orphan with the same version number as a committed manifest — a
    listing-based lookup could serve the orphan (it did: a silver
    ingest retry anti-joined against the loser's own rows and dropped
    genuinely-new documents). Only ancestors of the live pointer are
    committed history."""
    if version is None:
        name = _read_current_name(table)
        if name is None:
            return None
        with open(_manifest_path(table, name), encoding="utf-8") as f:
            return json.load(f)
    name = _read_current_name(table)
    if name is None:
        raise FileNotFoundError(f"no manifest for version {version} in {table}")
    while True:
        with open(_manifest_path(table, name), encoding="utf-8") as f:
            m = json.load(f)
        if m["version"] == version:
            return m
        if m["version"] < version or m["parent"] is None:
            raise FileNotFoundError(
                f"no committed manifest for version {version} in {table}"
            )
        name = m["parent"]


def _stage_data_files(df: DataFrame, table: str) -> list[str]:
    """Write ``df`` as immutable parquet files under a fresh snapshot
    directory; returns table-relative file paths. Nothing here is
    visible to readers until a manifest referencing the files is
    published."""
    snap = uuid.uuid4().hex[:12]
    out_dir = os.path.join(table, _DATA_DIR, snap)
    df.write.mode("error").parquet(out_dir)
    rel = []
    for root, _dirs, files in os.walk(out_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                rel.append(
                    os.path.relpath(os.path.join(root, fn), table)
                )
    return sorted(rel)


class SchemaEvolutionError(ValueError):
    """An append's schema conflicts with the committed table schema
    (same-name column with a different type). Adding NEW columns is
    legal evolution; silently changing a column's type is not."""


def _evolve_schema(parent_schema: dict | None, df: DataFrame) -> dict:
    """The unified table schema after appending ``df``: the committed
    column list, plus df's genuinely NEW columns appended at the end
    (they read as NULL from pre-evolution files); columns the append
    omits stay in the schema (they read as NULL from the new files).
    Same-name columns must keep their exact type."""
    new = df.schema.jsonValue()
    if parent_schema is None:
        return new
    by_name = {f["name"]: f for f in parent_schema["fields"]}
    out = list(parent_schema["fields"])
    for f in new["fields"]:
        have = by_name.get(f["name"])
        if have is None:
            evolved = dict(f)
            evolved["nullable"] = True  # NULL-backfilled on old files
            out.append(evolved)
        elif have["type"] != f["type"]:
            raise SchemaEvolutionError(
                f"column {f['name']!r}: committed type {have['type']!r}"
                f" != append type {f['type']!r}"
            )
    return {"type": "struct", "fields": out}


def _publish(
    table: str,
    files: list[str],
    parent: dict | None,
    compare_and_swap: CasFn | None = None,
    schema: dict | None = None,
) -> dict:
    """Write the next-version manifest, then flip _CURRENT through the
    commit CAS. Both the manifest and the tmp pointer are flushed +
    fsynced BEFORE the pointer swap — os.replace alone is atomic
    against process crash but on power loss could leave _CURRENT
    naming a torn manifest."""
    cas = compare_and_swap or _locked_replace_if_unchanged
    version = (parent["version"] + 1) if parent else 0
    manifest = {
        "version": version,
        "files": files,
        "parent": parent["name"] if parent else None,
    }
    if schema is not None:
        manifest["schema"] = schema
    name = f"manifest-{version:08d}-{uuid.uuid4().hex[:8]}.json"
    manifest["name"] = name
    os.makedirs(os.path.join(table, _MANIFEST_DIR), exist_ok=True)
    with open(_manifest_path(table, name), "w", encoding="utf-8") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    _fsync_dir(os.path.join(table, _MANIFEST_DIR))
    tmp = os.path.join(table, f"._CURRENT.tmp.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(name)
        f.flush()
        os.fsync(f.fileno())
    cas(os.path.join(table, _CURRENT), tmp, parent["name"] if parent else None)
    return manifest


def manifest_read(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Snapshot-isolated read of the live (or pinned) version.

    When the manifest carries the table SCHEMA (recorded by every
    commit of the current sink version), the read pins it explicitly:
    files written before a column was added — or after an append that
    omitted one — surface that column as NULL instead of whichever
    file Spark happened to sample (schema-on-read evolution, the
    Iceberg/Delta add-column semantics). Legacy manifests without a
    recorded schema keep the plain multi-file read."""
    m = read_manifest(table, version)
    if m is None or not m["files"]:
        raise FileNotFoundError(f"manifest table {table} has no committed data")
    paths = [os.path.join(table, p) for p in m["files"]]
    if m.get("schema") is not None:
        from pyspark.sql.types import StructType

        return spark.read.schema(
            StructType.fromJson(m["schema"])
        ).parquet(*paths)
    return spark.read.parquet(*paths)


def manifest_overwrite(
    df: DataFrame, table: str, compare_and_swap: CasFn | None = None
) -> dict:
    """Full-snapshot publish (K6 semantics with atomic visibility).
    Resets the committed schema to ``df``'s (an overwrite is a new
    table generation — evolution history does not survive it)."""
    os.makedirs(table, exist_ok=True)
    parent = read_manifest(table)
    files = _stage_data_files(df, table)
    return _publish(
        table, files, parent, compare_and_swap, schema=df.schema.jsonValue()
    )


_UNSET = object()


def manifest_append(
    df: DataFrame,
    table: str,
    compare_and_swap: CasFn | None = None,
    expected_parent: dict | None = _UNSET,  # type: ignore[assignment]
) -> dict:
    """Append-commit (K1/K3): new files stage invisibly, then one
    pointer flip makes the whole batch visible at once — a reader never
    sees half a batch, unlike a plain directory append.

    ``expected_parent`` pins the commit to a manifest the CALLER read
    (pass ``None`` for "table must still be empty"): the pointer CAS
    then compares against THAT version, so a writer whose append
    content was derived from a snapshot (e.g. an anti-join against the
    live table) gets ``CommitConflictError`` if anyone committed in
    between, instead of silently appending rows whose derivation is
    stale. Left unset, the parent is re-read here and the append
    content is assumed snapshot-independent (plain K1 semantics).

    Schema evolution: an append may carry NEW columns (recorded into
    the committed schema; older files read them as NULL) or omit
    committed ones (the new files read them as NULL) — but a
    same-name column with a different type raises
    ``SchemaEvolutionError`` BEFORE any file is staged. Tables whose
    live manifest predates schema recording keep legacy behavior (no
    schema pin) until their next overwrite."""
    os.makedirs(table, exist_ok=True)
    parent = read_manifest(table) if expected_parent is _UNSET else expected_parent
    if parent is None:
        schema = _evolve_schema(None, df)
    elif parent.get("schema") is not None:
        schema = _evolve_schema(parent["schema"], df)
    else:
        schema = None  # legacy table: don't pin a schema we can't see
    files = _stage_data_files(df, table)
    all_files = (parent["files"] if parent else []) + files
    return _publish(table, all_files, parent, compare_and_swap, schema=schema)


def manifest_upsert(
    spark: SparkSession,
    new_df: DataFrame,
    table: str,
    keys: Sequence[str],
    compare_and_swap: CasFn | None = None,
) -> dict:
    """K5 with a real atomic commit: merge against the live snapshot,
    stage the merged result, flip the pointer. Readers see the old
    version until the instant of ``os.replace`` — there is NO window
    with no live table, closing the gap writers.py:upsert documents.

    Batch-internal collisions keep one deterministic winner (max over
    non-key columns), matching writers.py:upsert.
    """
    key_list = list(keys)
    non_keys = [c for c in new_df.columns if c not in key_list]
    if non_keys:
        wdd = Window.partitionBy(*key_list).orderBy(
            *[F.col(c).desc_nulls_last() for c in non_keys]
        )
        new_df = (
            new_df.withColumn("_rk", F.row_number().over(wdd))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )
    else:
        new_df = new_df.dropDuplicates(key_list)

    parent = read_manifest(table)
    if parent and parent["files"]:
        old = manifest_read(spark, table)
        kept = old.join(new_df.select(*key_list).distinct(), key_list, "left_anti")
        merged = kept.unionByName(new_df.select(*old.columns))
    else:
        merged = new_df
    os.makedirs(table, exist_ok=True)
    files = _stage_data_files(merged, table)
    # the merged frame's schema IS the evolved committed schema when the
    # parent pinned one (manifest_read surfaces it); record it forward
    schema = (
        merged.schema.jsonValue()
        if (parent is None or parent.get("schema") is not None)
        else None
    )
    return _publish(table, files, parent, compare_and_swap, schema=schema)


# --- multi-table commit group --------------------------------------------
# Some jobs maintain TWO tables whose contents must move together — the
# near-dup ingest's corpus + LSH band index is the canonical case: a
# corpus row whose band rows are missing from the index is invisible to
# future probes and re-admits forever. A commit GROUP is one root
# directory holding several sub-tables and ONE _CURRENT pointer; the
# manifest maps sub-table name -> file list, so a single pointer flip
# publishes all sub-tables at once — both-or-neither, same crash
# semantics as the single-table protocol.
#
# Sub-tables of one commit stage CONCURRENTLY: each staging write is a
# few latency-bound Spark jobs on small data, so running them side by
# side overlaps their scheduling instead of paying it frame by frame.


def _stage_group_files(df: DataFrame, root: str, sub: str) -> list[str]:
    snap = uuid.uuid4().hex[:12]
    out_dir = os.path.join(root, sub, _DATA_DIR, snap)
    df.write.mode("error").parquet(out_dir)
    rel = []
    for r, _dirs, files in os.walk(out_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                rel.append(os.path.relpath(os.path.join(r, fn), root))
    return sorted(rel)


def _stage_group(frames: dict[str, DataFrame], root: str) -> dict[str, list[str]]:
    """Stage every frame under its sub-table; returns sub -> staged
    files. Frames stage from a thread pool whose targets carry the
    caller's job group, local properties and tags; if any stage fails,
    the siblings are awaited and the first error (in frame order) is
    re-raised."""
    # one wrapper per frame: each clones the caller's local properties,
    # so concurrent SQL executions never share one Properties object
    with ThreadPoolExecutor(max_workers=max(len(frames), 1)) as pool:
        futures = {
            sub: pool.submit(
                inheritable_thread_target(df.sparkSession)(_stage_group_files),
                df,
                root,
                sub,
            )
            for sub, df in frames.items()
        }
    return {sub: fut.result() for sub, fut in futures.items()}


def file_column_range(root: str, rel_path: str, column: str) -> tuple | None:
    """(min, max) of ``column`` over one staged parquet file, read from
    the file's OWN footer statistics (pyarrow metadata — a local
    metadata read, no Spark job, no data scan). This is the per-file
    pruning statistic every table format keeps in its manifests; here
    it is derived on demand from the footer rather than duplicated into
    the manifest, so it can never drift from the data. Returns None if
    the column has no usable stats."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(os.path.join(root, rel_path)).metadata
    lo = hi = None
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            if col.path_in_schema != column:
                continue
            stats = col.statistics
            if stats is None or not stats.has_min_max:
                return None
            lo = stats.min if lo is None else min(lo, stats.min)
            hi = stats.max if hi is None else max(hi, stats.max)
    if lo is None:
        return None
    return (lo, hi)


def group_prune_rewrite(
    spark: SparkSession,
    root: str,
    rewrites: dict[str, tuple[str, "Callable[[DataFrame], DataFrame]"]],
    prune_values: "dict[str, set] | None" = None,
    compare_and_swap: CasFn | None = None,
) -> dict:
    """File-pruned rewrite of group sub-tables in ONE commit — the
    scale-correct shape of a retention/compaction pass: for each sub in
    ``rewrites`` (mapping sub -> (prune_column, transform)), only the
    files whose footer [min, max] range on ``prune_column`` intersects
    ``prune_values[sub]`` are read and rewritten through ``transform``;
    every other file carries over into the new manifest UNTOUCHED (no
    read, no copy — the same file path appears in the new version).
    With None prune_values (or a file lacking stats) every file of that
    sub is rewritten — graceful degradation to the full rewrite.
    Returns {"manifest": ..., "touched": {sub: n_files_rewritten},
    "carried": {sub: n_files_untouched}}.

    At 100 TB this is the difference between rewriting the corpus and
    rewriting the handful of files a forget-request's ids actually
    live in."""
    parent = read_manifest(root)
    if parent is None:
        raise FileNotFoundError(f"commit group {root} has no committed data")
    tables: dict[str, list[str]] = dict(parent["tables"])
    touched_n: dict[str, int] = {}
    carried_n: dict[str, int] = {}
    for sub, (prune_col, transform) in rewrites.items():
        files = tables.get(sub, [])
        values = (prune_values or {}).get(sub)
        touched, carried = [], []
        for f in files:
            if values is None:
                touched.append(f)
                continue
            rng = file_column_range(root, f, prune_col)
            if rng is None or any(rng[0] <= v <= rng[1] for v in values):
                touched.append(f)
            else:
                carried.append(f)
        staged: list[str] = []
        if touched:
            df = spark.read.parquet(*[os.path.join(root, p) for p in touched])
            staged = _stage_group_files(transform(df), root, sub)
        tables[sub] = sorted(carried) + staged
        touched_n[sub] = len(touched)
        carried_n[sub] = len(carried)
    manifest = _publish_group(root, tables, parent, compare_and_swap)
    return {"manifest": manifest, "touched": touched_n, "carried": carried_n}


def _publish_group(
    root: str,
    tables: dict[str, list[str]],
    parent: dict | None,
    compare_and_swap: CasFn | None,
) -> dict:
    """Write the group's next-version manifest and flip the pointer —
    shared commit tail of group_append / group_overwrite (same
    durability order as _publish: manifest and tmp pointer fsynced
    before the swap)."""
    cas = compare_and_swap or _locked_replace_if_unchanged
    version = (parent["version"] + 1) if parent else 0
    manifest = {
        "version": version,
        "tables": tables,
        "parent": parent["name"] if parent else None,
    }
    name = f"manifest-{version:08d}-{uuid.uuid4().hex[:8]}.json"
    manifest["name"] = name
    os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
    with open(_manifest_path(root, name), "w", encoding="utf-8") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    _fsync_dir(os.path.join(root, _MANIFEST_DIR))
    tmp = os.path.join(root, f"._CURRENT.tmp.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(name)
        f.flush()
        os.fsync(f.fileno())
    cas(os.path.join(root, _CURRENT), tmp, parent["name"] if parent else None)
    return manifest


def group_append(
    frames: dict[str, DataFrame],
    root: str,
    compare_and_swap: CasFn | None = None,
) -> dict:
    """Append ``frames[sub]`` to each sub-table of the group at
    ``root`` in ONE commit: all sub-tables' new files stage invisibly,
    then a single pointer flip makes every append visible atomically.
    A crash anywhere before the flip leaves only orphan files — no
    sub-table ever sees the batch without the others. Stages via
    ``_stage_group``; a failed stage publishes nothing."""
    os.makedirs(root, exist_ok=True)
    parent = read_manifest(root)
    tables: dict[str, list[str]] = dict(parent["tables"]) if parent else {}
    for sub, staged in _stage_group(frames, root).items():
        tables[sub] = tables.get(sub, []) + staged
    return _publish_group(root, tables, parent, compare_and_swap)


def group_overwrite(
    frames: dict[str, DataFrame],
    root: str,
    compare_and_swap: CasFn | None = None,
) -> dict:
    """Replace the NAMED sub-tables' contents in one commit (sub-tables
    not named keep their current files). The compaction / retention
    primitive: stage full replacement file sets, one pointer flip —
    readers see the old group until the instant of commit, and a crash
    leaves only orphans for ``group_vacuum``. Stages via
    ``_stage_group``; a failed stage publishes nothing."""
    os.makedirs(root, exist_ok=True)
    parent = read_manifest(root)
    tables: dict[str, list[str]] = dict(parent["tables"]) if parent else {}
    tables.update(_stage_group(frames, root))
    return _publish_group(root, tables, parent, compare_and_swap)


def group_read(
    spark: SparkSession, root: str, sub: str, version: int | None = None
) -> DataFrame | None:
    """Snapshot-isolated read of one sub-table of a commit group;
    None if the group (or the sub-table) has no committed data yet."""
    m = read_manifest(root, version)
    if m is None or not m.get("tables", {}).get(sub):
        return None
    return spark.read.parquet(
        *[os.path.join(root, p) for p in m["tables"][sub]]
    )


def group_compact(
    spark: SparkSession,
    root: str,
    max_files: int = 8,
    compare_and_swap: CasFn | None = None,
) -> dict | None:
    """``manifest_compact`` for commit groups: every sub-table whose
    live file list exceeds ``max_files`` is rewritten into
    ``max_files`` coalesced files; already-compact sub-tables carry
    their file lists UNTOUCHED, and ONE pointer flip publishes all
    rewrites together — the group's both-or-neither invariant holds
    through maintenance too (a corpus compacted without its band index
    would be exactly the divergence the group exists to prevent).
    Returns the new manifest, or None when every sub-table is already
    compact. Concurrency per ``manifest_compact``: a racing appender
    wins the CAS, the compactor retries."""
    parent = read_manifest(root)
    if parent is None:
        return None
    tables: dict[str, list[str]] = dict(parent["tables"])
    changed = False
    for sub, files in tables.items():
        if len(files) <= max_files:
            continue
        df = spark.read.parquet(*[os.path.join(root, p) for p in files])
        tables[sub] = _stage_group_files(df.coalesce(max_files), root, sub)
        changed = True
    if not changed:
        return None
    return _publish_group(root, tables, parent, compare_and_swap)


def group_vacuum(root: str, keep_versions: int = 1) -> list[str]:
    """``vacuum`` for a multi-table commit group: delete data files (in
    any sub-table) referenced by NO retained manifest — crashed
    writers' orphans and files only trimmed history references. Never
    touches the live version's files. Returns deleted root-relative
    paths."""
    current = _read_current_name(root)
    if current is None:
        return []
    mdir = os.path.join(root, _MANIFEST_DIR)
    manifests = sorted(os.listdir(mdir))
    keep = set(manifests[-keep_versions:]) if keep_versions else set()
    keep.add(current)
    referenced: set[str] = set()
    for name in keep:
        with open(_manifest_path(root, name), encoding="utf-8") as f:
            for files in json.load(f)["tables"].values():
                referenced.update(files)
    deleted = []
    for entry in os.listdir(root):
        data_root = os.path.join(root, entry, _DATA_DIR)
        if entry in (_MANIFEST_DIR,) or not os.path.isdir(data_root):
            continue
        for r, _dirs, files in os.walk(data_root):
            for fn in files:
                full = os.path.join(r, fn)
                rel = os.path.relpath(full, root)
                if fn.endswith(".parquet") and rel not in referenced:
                    os.remove(full)
                    deleted.append(rel)
        for r, dirs, files in list(os.walk(data_root, topdown=False)):
            if not dirs and not files and r != data_root:
                os.rmdir(r)
    for name in manifests:
        if name not in keep:
            os.remove(_manifest_path(root, name))
    return sorted(deleted)


def manifest_compact(
    spark: SparkSession,
    table: str,
    max_files: int = 8,
    compare_and_swap: CasFn | None = None,
) -> dict | None:
    """Small-file compaction: when the live manifest references more
    than ``max_files`` data files (the natural state of any
    append-per-batch table — silver zones, streaming upsert sinks),
    rewrite the live snapshot into ``max_files`` coalesced files and
    commit the replacement as one pointer flip. Returns the new
    manifest, or None when the table is already compact (the common
    case — a maintenance cron calls this unconditionally).

    Correctness under concurrency is the manifest protocol's:
    readers stay snapshot-isolated on their pinned file lists, the
    pre-compaction version remains readable until ``vacuum``, and a
    writer that appended between this compactor's snapshot read and
    its commit wins the CAS race — the compactor gets
    ``CommitConflictError`` and simply retries on the new version
    (compaction is always safe to redo, never required)."""
    parent = read_manifest(table)
    if parent is None or len(parent["files"]) <= max_files:
        return None
    df = manifest_read(spark, table).coalesce(max_files)
    files = _stage_data_files(df, table)
    return _publish(
        table, files, parent, compare_and_swap, schema=parent.get("schema")
    )


def vacuum(table: str, keep_versions: int = 1) -> list[str]:
    """Delete data files referenced by NO retained manifest (orphans
    from crashed writers, and files only older versions reference once
    history is trimmed to ``keep_versions``). Returns deleted paths.

    Never touches the live version's files; with the default
    ``keep_versions=1`` time travel is given up in exchange for space.
    """
    current = _read_current_name(table)
    if current is None:
        return []
    mdir = os.path.join(table, _MANIFEST_DIR)
    manifests = sorted(os.listdir(mdir))  # version-prefixed → sorted = oldest first
    keep = set(manifests[-keep_versions:]) if keep_versions else set()
    keep.add(current)
    referenced: set[str] = set()
    for name in keep:
        with open(_manifest_path(table, name), encoding="utf-8") as f:
            referenced.update(json.load(f)["files"])
    deleted = []
    data_root = os.path.join(table, _DATA_DIR)
    for root, _dirs, files in os.walk(data_root):
        for fn in files:
            full = os.path.join(root, fn)
            rel = os.path.relpath(full, table)
            if fn.endswith(".parquet") and rel not in referenced:
                os.remove(full)
                deleted.append(rel)
    for name in manifests:
        if name not in keep:
            os.remove(_manifest_path(table, name))
    # prune emptied snapshot dirs
    for root, dirs, files in list(os.walk(data_root, topdown=False)):
        if not dirs and not files and root != data_root:
            os.rmdir(root)
    return sorted(deleted)
