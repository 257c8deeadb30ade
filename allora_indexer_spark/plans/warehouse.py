"""Idempotent table writers — the sink side (SURVEY.md §2.2 K1-K8).

The reference guarantees effectively-once delivery with unique constraints +
ON CONFLICT on Postgres (T3). On a Spark warehouse the same contract is:

- K1/K4 (insert-if-absent): anti-join the incoming batch against existing
  keys, append only the novel rows;
- K5/K6 (upsert / keep-latest): union existing + incoming, keep one row per
  key by the ordering column, rewrite.

Backing store here is parquet files under a per-table manifest because
this container has no Delta; on Delta/Iceberg both writers become a single
``MERGE INTO`` on the table spec's natural keys
(``schemas.TABLE_SPECS[name].keys``, which also picks the writer) and the
manifest dance disappears. The writer API is the seam where that
substitution happens.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from allora_indexer_spark.plans.storage import (  # noqa: F401 — re-exports
    _ANY,
    _CAS_LOCK_FILE,
    _CURRENT_FILE,
    _MANIFESTS_DIR,
    ManifestConflictError,
    PosixManifestStorage,
    _atomic_write_json,
    _cas_section,
)
from allora_indexer_spark.schemas import TABLE_KEYS, TABLE_SPECS

# The storage-backend seam (plans/storage.py): every `_CURRENT` read and
# every publish/flip goes through this object. Default is the POSIX
# backend; an object-store deployment swaps in an adapter with
# conditional-PUT semantics (InMemoryManifestStorage is the tested
# template) without touching any writer above the seam.
STORAGE = PosixManifestStorage()

# --- versioned manifest layout (manifest flip) ------------------------------
#
# Which files constitute the CURRENT table is decided by a MANIFEST: the
# table directory holds
#
#   _CURRENT                    the live manifest (one atomic file replace)
#   _manifests/v<hex>.json      manifest history = the time-travel catalog
#   _versions/v<hex>/…          data files written BY that version
#
# A write lands its files under its own version directory; every earlier
# data dir is CARRIED by reference — the new manifest simply keeps
# pointing at it. Publishing is one single-file replace of `_CURRENT`, so
# concurrent readers see either the old or the new manifest in full,
# never a mix, and no data is ever copied, linked, or moved for a carry.
# Everything is plain files + one atomic single-object write — the layout
# works the same on POSIX and on object stores (S3-style single-PUT
# atomicity). It is the ONLY layout: every table and store is a manifest
# table from its first write, so there is one commit path — the
# `_CURRENT` CAS publish — for all of them. That CAS is also the only
# concurrency control: nothing locks. A writer records the version its
# merge was based on, the publish refuses the flip if `_CURRENT` moved,
# and the writer redoes its read-merge-publish cycle (:func:`_retry_cas`).
#
# Upsert (keep-one, K5/K6) tables are MERGE-ON-READ: an upsert appends the
# batch's per-key winners like any append, and every read keeps one row
# per natural key under the table spec's ``keep_one`` order
# (:func:`_resolved`) — the parquet twin of the reference's per-row
# ON CONFLICT upsert (/root/reference/db.go:1118-1185, 1246-1350) at
# O(batch) write cost. The survivor is chosen by that order, never by
# arrival, so appends commute and a replay is a no-op on read; fold and
# compact drop superseded rows from what they rewrite.
#
# Maintenance is the writer's, like Postgres autovacuum: there is one
# rule (:func:`_append_data`) and one rewrite (:func:`_rewrite`). A
# publish that leaves more than APPEND_MANIFEST_WARN entries folds the
# raw deltas into one tier; when the base and tiers alone fill the
# bound, it compacts the whole table instead. Both rewrites lay rows out
# under the table's one layout (:func:`_layout`): the one recorded at
# creation, or the keyed range_by default.
# Underscore-prefixed names are invisible to Spark's file listing, so a
# stray direct read of the table path sees no half-state. Replaced
# versions are garbage-collected after a grace period once no retained
# manifest references them. On Delta/Iceberg the whole section collapses
# into MERGE INTO + snapshot manifests; this is that contract on plain
# parquet.

_VERSIONS_DIR = "_versions"
_GC_GRACE_SEC = 60.0
# Manifest bound: each non-empty append adds one manifest data entry,
# and no write leaves more than this many — past it the writer folds or
# compacts (see _append_data). table_health flags a table over it
# (needs_compaction), which only a writer with a larger bound leaves.
APPEND_MANIFEST_WARN = 64
# Growth envelope of `_manifests/` history files and `_versions/` dirs.
# Publish-time GC holds both near retention + (grace window x publish
# rate) — the soak plateaus around 150 files at WARN=8 — but it never
# touches a version dir no manifest names (a crash orphan looks exactly
# like a rival's in-flight write), so orphans pile up until vacuum()
# runs. Past this bound table_health raises its `needs_vacuum` flag.
HISTORY_VACUUM_WARN = 256

# Monotone manifest timestamp: os.replace + a strictly increasing counter
# keep (created, version) a total order even when two writes land within
# one clock tick.
_write_seq = 0

def _table_path(root: str, name: str) -> str:
    return os.path.join(root, name)


def _manifest_read(path: str) -> dict | None:
    """The live manifest of the table at ``path``, or None when the path
    holds no table. Delegates to the STORAGE seam."""
    return STORAGE.read_current(path)


def _new_version_id() -> str:
    return "v" + uuid.uuid4().hex[:12]


def _data_dirs(path: str, manifest: dict) -> list[str]:
    """Absolute data directories of a manifest, in stable label order."""
    return [
        os.path.join(path, rel)
        for _, rel in sorted(manifest["data"].items())
    ]


# Backoff of a public writer that lost a CAS race. The pause doubles per
# lost attempt, from _CAS_BACKOFF_SEC up to _CAS_BACKOFF_MAX_SEC, with
# equal jitter (each pause is U(0.5, 1) x the nominal delay), and the writer
# gives up loudly once the next pause would end past _CAS_DEADLINE_SEC
# from its first attempt. A deadline, not an attempt count: a writer on
# a hot table keeps its turn as long as rivals keep committing, while a
# fixed count of short sleeps gave up after ~0.85 s.
_CAS_BACKOFF_SEC = 0.02
_CAS_BACKOFF_MAX_SEC = 2.0
_CAS_DEADLINE_SEC = 60.0


def _publish_manifest(path: str, manifest: dict, expect=_ANY) -> None:
    """Write the manifest into history, then flip `_CURRENT` atomically.

    ``expect`` is the CAS guard: the version id of the manifest the
    writer's merge was based on (None = "there was no manifest"). When
    given, the flip happens only if `_CURRENT` still names that version;
    otherwise ManifestConflictError — the writer's merge is stale and
    blindly flipping would drop the other writer's pointers wholesale
    (the lost-update window).

    EVERY flip — including the unconditional ``expect=_ANY`` form — runs
    inside `_cas_section`, so all `_CURRENT` writes serialize through one
    seam: an unconditional publish racing a conditional one cannot slip
    its flip between the CAS reader's check and the CAS writer's write
    (which would let the conditional flip silently overwrite it).

    Each published manifest records ``parent``: the version `_CURRENT`
    named at flip time. The parent chain IS the table's linearization
    (each link was verified — or observed — inside the critical
    section), which `list_versions` walks to order history even when
    wall clocks and per-process seq counters are incomparable across
    writer processes.

    The check-observe-stamp-flip itself lives behind the STORAGE seam
    (plans/storage.py) — POSIX by default, conditional-PUT on an object
    store; this wrapper only adds the per-process created/seq stamps,
    and refuses a table's first publish (``expect=None``) over plain
    parquet data (:func:`_refuse_plain_dir`)."""
    global _write_seq
    if expect is None:
        _refuse_plain_dir(path)
    _write_seq += 1
    manifest = dict(manifest)
    manifest["created"] = time.time()
    manifest["seq"] = _write_seq
    STORAGE.publish(path, manifest, expect)


def _retry_cas(fn):
    """Run a writer's read-merge-publish cycle, redoing it (against the
    freshly-flipped manifest) when another writer's publish wins the CAS.
    The backoff is exponential and jittered (see _CAS_BACKOFF_SEC): two
    symmetric lock-free writers with equal cycle times would otherwise
    collide in lockstep across every attempt and fail spuriously."""
    give_up = time.monotonic() + _CAS_DEADLINE_SEC
    delay = _CAS_BACKOFF_SEC
    while True:
        try:
            return fn()
        except ManifestConflictError:
            pause = delay * random.uniform(0.5, 1.0)
            if time.monotonic() + pause > give_up:
                raise
            time.sleep(pause)
            delay = min(2 * delay, _CAS_BACKOFF_MAX_SEC)


def _footer_row_count(d: str) -> int:
    """Total row count of the parquet files under ``d`` from their footers
    alone — a driver-local pyarrow metadata read (no Spark job). Bounded:
    called on a single just-written version dir (a handful of part files).
    On an object store this is the same handful of ranged footer GETs."""
    import pyarrow.parquet as pq

    total = 0
    for dirpath, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(
                    os.path.join(dirpath, f)
                ).metadata.num_rows
    return total


def _exists(path: str) -> bool:
    """Whether ``path`` holds a table. Every table and store the engine
    writes is a manifest table from its first write, so a path without
    `_CURRENT` holds none."""
    return _manifest_read(path) is not None


class PlainDirectoryError(RuntimeError):
    """A table's first write found plain parquet data at its path."""


def _refuse_plain_dir(path: str) -> None:
    """Refuse to create a table over plain parquet data. Before every
    table was a manifest table from its first write, insert-if-absent
    tables and rollups started as plain dirs; a first manifest published
    over one hides its rows from every reader, and the anti-join probe
    then re-admits them (and topic ids restart at 1). The check runs only
    on a table's first publish; a manifest table's root holds nothing
    but underscore entries."""
    try:
        entries = os.listdir(path)
    except FileNotFoundError:
        return
    plain = sorted(
        e for e in entries
        if not e.startswith(("_", ".")) and (e.endswith(".parquet") or "=" in e)
    )
    if plain:
        raise PlainDirectoryError(
            f"{path}: holds plain parquet data ({len(plain)} entries, e.g. "
            f"{plain[0]!r}) but no {_CURRENT_FILE}, so it is not a table. "
            "A first write here would hide those rows. Re-ingest into a "
            "fresh path, or convert the dir in place with compact() from a "
            "release that still read plain dirs, then retry."
        )


class BucketedLayoutError(RuntimeError):
    """A table was written in the key-hash bucket layout of earlier
    releases."""


def _refuse_bucketed(path: str, manifest: dict) -> None:
    """Refuse to read or write a table whose manifest still carries
    ``buckets``: earlier releases stored keep-one tables in key-hash
    bucket dirs, and this release neither reads nor converts them."""
    if "buckets" in manifest:
        raise BucketedLayoutError(
            f"{path}: written in the key-hash bucket layout of an earlier "
            "release, which this release no longer reads or writes. "
            "Re-ingest the table into a fresh path."
        )


@contextlib.contextmanager
def _own_version_dir(path: str, verdir: str):
    """Wrap the publish of a freshly written version dir. A publish that
    loses the CAS race removes ``verdir``: no manifest will ever name it,
    and publish-time GC leaves unnamed dirs alone (they look like a
    rival's in-flight write); so does a write refused over a table in
    the bucket layout (:func:`_refuse_bucketed`). A refused first write
    over a plain dir (:func:`_refuse_plain_dir`) also removes the
    `_versions/` dir it created, if nothing else is in it, leaving the
    plain dir as it was."""
    try:
        yield
    except (ManifestConflictError, BucketedLayoutError):
        shutil.rmtree(verdir, ignore_errors=True)
        raise
    except PlainDirectoryError:
        shutil.rmtree(verdir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(path, _VERSIONS_DIR))
        except OSError:
            pass
        raise


def _merged_schema_json(old_json: str | None, df: DataFrame) -> str:
    """Widen a manifest's pinned schema with any NEW columns ``df``
    carries (existing columns keep their recorded order and type — a
    batch is never allowed to silently narrow or retype the table)."""
    from pyspark.sql.types import StructType

    if not old_json:
        return df.schema.json()
    old = StructType.fromJson(json.loads(old_json))
    names = {f.name for f in old.fields}
    return StructType(
        list(old.fields) + [f for f in df.schema.fields if f.name not in names]
    ).json()


# How many of the newest manifests survive GC beyond the writer's own
# keep-set. 2 = current + previous (the minimum the atomic-flip contract
# needs). Raise it to keep a time-travel horizon: every retained manifest
# is a full consistent table snapshot readable via read_table_version /
# diffable via diff_table_versions — carried-by-reference data dirs mean
# N retained versions cost far less than N copies.
UPSERT_RETAIN_VERSIONS = 2


def list_versions(path: str) -> list[tuple[str, float]]:
    """All snapshot versions of a manifest table, newest first, as
    (manifest_file, created) — the table's time-travel catalog. Index 0
    is (modulo an in-flight flip) the manifest `_CURRENT` mirrors.

    Ordering is the PARENT CHAIN walked back from `_CURRENT` — the actual
    publish linearization recorded inside `_cas_section` — not wall-clock:
    two processes publishing within one clock tick have identical
    ``created`` and incomparable per-process ``seq``, so a timestamp sort
    could disagree with the CAS order (and with it GC retention and
    time-travel index 0). Manifests off the chain (pre-parent files, or
    orphans whose successor was GC'd) fall back to (created, seq),
    appended after the chain.

    ``mf`` in the returned tuples is the storage backend's opaque
    history entry id (POSIX: the manifest file's path) — valid input
    for :func:`read_table_version` and the storage history APIs."""
    return [(eid, float(m.get("created", 0.0))) for eid, m in _history(path)]


def _history(path: str) -> list[tuple[str, dict]]:
    """:func:`list_versions`' entries with each manifest's content, as
    (entry_id, manifest) — the listing already carries it, so GC reads
    no history entry a second time."""
    # Read `_CURRENT` BEFORE listing history (ADVICE r9): the publish
    # persists the history entry before flipping `_CURRENT` inside the
    # CAS section, so a version observed here is guaranteed present in
    # the LATER listing. The reverse order would let a flip land between
    # the listing and this read, drop the live version from by_ver, and
    # silently collapse the whole chain walk to the timestamp fallback.
    cur = _manifest_read(path)
    by_ver: dict[str, tuple[str, dict]] = {
        m.get("version", eid): (eid, m)
        for eid, m in STORAGE.list_history(path)
    }
    # Walk FORWARD from the observed `_CURRENT` first: a flip that lands
    # between that read and the listing puts newer manifests in the
    # listing, and each names the one before it as its parent. Leaving
    # them off the chain would rank the newest table version behind the
    # retention horizon, where a concurrent GC could reclaim its dirs.
    child = {m.get("parent"): ver for ver, (_, m) in by_ver.items()}
    v = cur.get("version") if cur is not None else None
    ahead: set[str] = set()
    while v in child and child[v] not in ahead:
        v = child[v]
        ahead.add(v)
    chain: list[str] = []
    seen: set[str] = set()
    while v is not None and v in by_ver and v not in seen:
        seen.add(v)
        chain.append(v)
        v = by_ver[v][1].get("parent")

    def newest_first(ver: str) -> tuple:
        eid, m = by_ver[ver]
        return (-float(m.get("created", 0.0)), -m.get("seq", 0), eid)

    rest = sorted((ver for ver in by_ver if ver not in seen), key=newest_first)
    return [by_ver[v] for v in chain + rest]


def _load_manifest_file(mf: str) -> dict:
    """Load a history manifest by its opaque entry id (from
    :func:`list_versions`), via the storage seam."""
    return STORAGE.read_history(mf)


def _version_paths(path: str) -> list[str]:
    """All data version dirs of a manifest table (referenced or not)."""
    vdir = os.path.join(path, _VERSIONS_DIR)
    if not os.path.isdir(vdir):
        return []
    return [os.path.join(vdir, d) for d in os.listdir(vdir)]


def _gc_versions(
    path: str,
    keep: set[str] | None = None,
    retain: int | None = None,
    grace: float | None = None,
    unpublished: bool = False,
) -> None:
    """Reclaim data directories no retained manifest references, but only
    once they are older than a grace period — an in-flight reader that
    loaded `_CURRENT` just before a flip keeps a consistent file set until
    it is implausibly old. The ``retain`` newest manifests (default
    UPSERT_RETAIN_VERSIONS) survive as the time-travel horizon; ``keep``
    pins additional data dirs (by path) regardless of age. ``grace``
    overrides _GC_GRACE_SEC. Deletion granularity is the entry below a
    version dir: a version dir whose subdirectories are still carried by
    live manifests keeps them and loses only the superseded ones.

    Every publish runs this with no writer lock, which two rules make
    safe:

    - Only a version dir that some history manifest names is
      reclaimable. A dir no manifest names is unpublished: a rival's
      in-flight write (a `_retry_cas` loop can hold one past any grace
      window) or a crash orphan. Only ``unpublished=True`` — what
      :func:`vacuum` passes — reclaims those, under the same grace.
    - A history manifest beyond the horizon is deleted only once every
      dir it names outside the retained set is gone. Deleting it first
      would leave a grace-pending dir that no manifest names, which only
      vacuum would reclaim."""
    if retain is None:
        retain = UPSERT_RETAIN_VERSIONS
    if grace is None:
        grace = _GC_GRACE_SEC
    keep = {os.path.realpath(p) for p in (keep or set())}
    now = time.time()
    # one realpath for the table, then plain joins: manifest entries are
    # engine-written relative paths, and a realpath per entry per history
    # manifest would lstat every path component on every publish
    root = os.path.realpath(path)
    vroot = os.path.join(root, _VERSIONS_DIR)
    history = _history(path)

    def refs(m: dict) -> set[str]:
        return {
            os.path.normpath(os.path.join(root, rel))
            for rel in m.get("data", {}).values()
        }

    protected = keep.union(*(refs(m) for _, m in history[:retain]))
    named = set().union(*(refs(m) for _, m in history))
    published = {os.path.relpath(r, vroot).split(os.sep)[0] for r in named}

    # A manifest may reference a whole VERSION dir or a subdirectory
    # inside one; an entry is live when it IS a referenced path, lies
    # INSIDE one (descendant of a whole-dir reference), or CONTAINS one
    # (ancestor of a referenced subdirectory).
    def _live(rp: str) -> bool:
        return any(
            rp == k
            or rp.startswith(k + os.sep)
            or k.startswith(rp + os.sep)
            for k in protected
        )

    for vname in os.listdir(vroot) if os.path.isdir(vroot) else ():
        vdir = os.path.join(vroot, vname)
        if vname not in published and not unpublished:
            continue
        if vdir in protected or not os.path.isdir(vdir):
            continue  # whole version dir referenced: nothing inside may go
        try:
            # the version dir's own mtime, captured BEFORE any deletion
            # below bumps it, joins the grace check: a rename keeps the
            # children's old mtimes (Spark's job commit renames task
            # files into place), so the dir shields them through the
            # window
            vdir_mtime = os.path.getmtime(vdir)
        except OSError:
            continue
        for d in os.listdir(vdir):
            sub = os.path.join(vdir, d)
            if _live(sub):
                continue
            try:
                age_ref = max(os.path.getmtime(sub), vdir_mtime)
                if now - age_ref < grace:
                    continue
            except OSError:
                continue
            # version dirs of non-partitioned writes hold plain files
            # (_SUCCESS, part-*.parquet): rmtree no-ops on those, so
            # branch — otherwise superseded versions never empty out
            if os.path.isdir(sub):
                shutil.rmtree(sub, ignore_errors=True)
            else:
                try:
                    os.remove(sub)
                except OSError:
                    pass
        try:
            if not os.listdir(vdir):
                os.rmdir(vdir)
        except OSError:
            pass

    def pending(r: str) -> bool:
        # a dir this manifest names that GC has not reclaimed yet and no
        # retained manifest carries
        a = r
        while a.startswith(vroot + os.sep):
            if a in protected:
                return False
            a = os.path.dirname(a)
        return os.path.exists(r)

    # prune manifest history beyond the retained horizon (entry ids are
    # backend-opaque; age/delete go through the storage seam)
    for eid, m in history[retain:]:
        if any(map(pending, refs(m))):
            continue
        try:
            if now - STORAGE.history_age_ref(eid) < grace:
                continue
            STORAGE.delete_history(eid)
        except (OSError, KeyError):
            continue


def _pinned_schema(manifest: dict):
    """The logical schema a manifest pins, as a StructType (None for a
    manifest that records none — the heavy-hitter store's)."""
    sj = manifest.get("schema")
    if not sj:
        return None
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(sj))


def _read_manifest_data(
    spark: SparkSession, path: str, manifest: dict
) -> DataFrame:
    """Read the rows a manifest references (raw: a keep-one table's
    superseded rows included — :func:`_resolved` drops them).

    Manifests carry the table's logical schema, written (and widened) at
    publish time: pinning it here (a) skips footer sampling at plan
    time — one less listing+read round-trip per query against a
    many-versioned table — and (b) makes schema evolution safe under
    plain ``read_table``: data dirs carried by reference from an older,
    narrower version read back with typed nulls for the newer columns
    instead of silently steering inference to whichever file was sampled
    first. A manifest with no data dirs (a table made by
    :func:`create_table`) reads as an empty scan of the pinned schema."""
    _refuse_bucketed(path, manifest)
    dirs = _data_dirs(path, manifest)
    schema = _pinned_schema(manifest)
    if len(dirs) > 1 and any(_has_hive_entries(d) for d in dirs):
        # a single multi-root read refuses mixed / multiple partitioned
        # roots even under an explicit schema — union per dir, pinning
        # the schema per root when recorded (which also pins hive
        # partition-value TYPES: '04' stays the string '04', never the
        # int 4 value inference would guess from an all-digit root)
        return _union_dirs(spark, dirs, schema=schema)
    if schema is not None:
        return spark.read.schema(schema).parquet(*dirs)
    return spark.read.parquet(*dirs)


def _has_hive_entries(d: str) -> bool:
    try:
        return any("=" in e for e in os.listdir(d))
    except OSError:
        return False


def _union_dirs(spark: SparkSession, dirs: list[str], schema=None) -> DataFrame:
    """Per-dir read + unionByName for manifests whose data dirs a single
    multi-root read refuses: several hive-partitioned roots (a table
    created with ``partition_by``), or such roots mixed with plain
    dirs. ``schema`` (the manifest's pinned logical schema) is applied
    per root, which also pins hive partition-value types against
    per-root inference. Bounded: no write leaves more than
    APPEND_MANIFEST_WARN dirs in a manifest, and AQE coalesces the
    per-dir scans."""

    reader = spark.read if schema is None else spark.read.schema(schema)
    out = reader.parquet(dirs[0])
    for d in dirs[1:]:
        out = out.unionByName(reader.parquet(d), allowMissingColumns=True)
    return out


def read_dir(spark: SparkSession, path: str) -> DataFrame:
    """Read of a standalone table DIRECTORY (streaming stores — rollups,
    ledgers, pair sets — and the ANN corpus, which live outside a
    warehouse root): the live manifest's file set. A root read of a
    manifest dir sees nothing (underscore entries are invisible to
    Spark's listing), so every reader of such a dir comes through here.
    Raises FileNotFoundError when the path holds no table."""
    m = _manifest_read(path)
    if m is None:
        raise FileNotFoundError(f"{path}: no table (no {_CURRENT_FILE})")
    return _read_manifest_data(spark, path, m)


def append_dir(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Append to a standalone table directory — the public face of
    :func:`_append_data` for streaming stores (the first append creates
    the table)."""
    _append_data(df, path, partition_by)


def table_exists(root: str, name: str) -> bool:
    """Whether the table exists, i.e. has a live manifest (every table is
    a manifest table from its first write). The existence probe callers
    need to distinguish "table not created yet" from "read FAILED" — wrapping
    :func:`read_table` in a bare ``except Exception`` conflates the two,
    and a transient manifest/FS error then silently masquerades as an
    empty table (the streaming topic-id continuity bug class: batch-local
    ids restart at 1 and the idempotent anti-join drops the new rows)."""
    return _exists(_table_path(root, name))


def read_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Read a table, pinned to its CURRENT version: the manifest is loaded
    once here, so the query's file listing references the version data
    dirs directly — a flip mid-query cannot yank files out from under
    running tasks (grace-period GC keeps them alive). A keep-one table
    reads back one row per natural key (:func:`_resolved`). Raises
    FileNotFoundError for a table that does not exist."""
    return _resolved(read_dir(spark, _table_path(root, name)), name)


def _resolved(df: DataFrame, name: str) -> DataFrame:
    """Merge-on-read: the rows of table ``name`` with one row per natural
    key under its spec's ``keep_one`` order; ``df`` unchanged for any
    other table. Every keep-one read resolves — no writer keeps an
    on-disk one-row-per-key invariant a shortcut could rely on. Guarded
    like :func:`_layout`: data stored under a spec's name by other code,
    without the spec's key or order columns, reads and compacts as
    stored instead of failing."""
    spec = TABLE_SPECS.get(name)
    if spec is None or not spec.keep_one:
        return df
    if not {*spec.keys, *(c for c, _ in spec.keep_one)} <= set(df.columns):
        return df
    return _keep_first(df, list(spec.keys), _order_cols(spec.keep_one))


# Preferred range-pruning column per key set: the ingest-monotone one.
# Batches arrive as contiguous height spans, so min/max-pruning the
# existing-table scan on this column bounds the anti-join probe by BATCH
# size, not table size (parquet row-group min/max stats skip the rest).
_PRUNE_PREFERENCE = ("height", "height_tx", "message_height", "block_height", "id")


def _prune_col(keys: list[str]) -> str:
    for c in _PRUNE_PREFERENCE:
        if c in keys:
            return c
    return keys[0]


def _name_of(path: str) -> str:
    """The table name of a table path: its basename, which is how
    maintenance (compact, fold) finds the table's spec."""
    return os.path.basename(path.rstrip("/"))


def _layout(path: str, layout: dict, columns) -> tuple[str, list[str], int]:
    """The file layout every rewrite of a table applies, as (mode,
    columns, target_partitions); mode "" is a flat rewrite.

    The columns are the ones recorded at the table's creation
    (:func:`create_table`, or a first :func:`_append_data` with
    ``partition_by``), in one of three modes: ``partition_by`` lays
    files out as hive directories (directory pruning, but partition-
    value inference retypes numeric-looking strings on a plain read —
    the pinned schema guards engine reads); ``cluster_by`` clusters and
    sorts rows by columns kept IN the files, so row-group min/max stats
    prune; ``range_by`` range-partitions and sorts, so every FILE covers
    a disjoint key span. With none recorded, a KEYED table whose rows
    carry its monotone probe column range-clusters on it: the
    idempotent writer's anti-join probe is range-pruned on that column
    (:func:`existing_keys_in_range`), and a round-robin rewrite makes
    every file span the whole key range — measured: 6 contiguous-span
    appends and one compact to 4 files left each file spanning every
    height, so the O(batch) probe became O(table). The guard on the
    column keeps a table evolved without it on the flat rewrite instead
    of failing mid-maintenance. Sizing is the recorded
    ``target_partitions`` (:func:`compact` records it), else 1."""
    n = layout.get("target_partitions", 1)
    for mode in ("partition_by", "cluster_by", "range_by"):
        if layout.get(mode):
            return mode, list(layout[mode]), n
    keys = TABLE_KEYS.get(_name_of(path))
    if keys and _prune_col(keys) in columns:
        return "range_by", [_prune_col(keys)], n
    return "", [], n


def existing_keys_in_range(
    spark: SparkSession, df: DataFrame, root: str, name: str,
    span: tuple | None = None,
) -> DataFrame:
    """The bounded dedup probe for :func:`write_insert_if_absent`: existing
    natural keys restricted to the incoming batch's span on the table's
    monotone key column. Natural keys are non-null by construction
    (schemas.TABLE_KEYS), so the between() filter never drops a live key.

    ``span`` short-circuits the (lo, hi) aggregation when the caller
    already knows a bound that COVERS the batch's prune-column values —
    the streaming sinks pass the micro-batch's block-height span once for
    every height-derived table, saving ~3 local jobs per table per
    trigger. Over-covering is safe (the probe merely reads more);
    under-covering would silently re-admit keys, which is why callers may
    only pass spans for span-covered tables (schemas.TableSpec.span: prune
    column provably derived from the feed's block height —
    tests/test_ingest.py pins the covering invariant)."""
    keys = TABLE_KEYS[name]
    pc = _prune_col(keys)
    lo, hi = span if span is not None else df.agg(F.min(pc), F.max(pc)).collect()[0]
    probe = read_table(spark, root, name)
    if lo is not None:
        probe = probe.filter(F.col(pc).between(F.lit(lo), F.lit(hi)))
    return probe.select(*keys).distinct()


def create_table(
    path: str,
    schema,
    layout: dict | None = None,
    extra: dict | None = None,
) -> None:
    """Create an empty table as ONE manifest publish, with no Spark job
    and no data dir: the first manifest carries ``"data": {}``, the
    pinned ``schema`` (a StructType), the recorded ``layout``
    (``{"cluster_by": [...]}``, ``{"range_by": [...]}`` or
    ``{"partition_by": [...]}``, optionally with ``target_partitions``:
    what every fold and compact of the table applies, see
    :func:`_layout`) and any ``extra`` app-level manifest keys (the
    rollup ledger's content_key_encoding, a hash store's geometry), so
    no crash can leave a manifest missing its markers. The publish is a
    CAS against "no manifest" (``expect=None``), like every table's
    first write; a table that already exists is left as it is. This is
    the DDL of the warehouse (the reference's CREATE TABLE at startup,
    db.go:178-525): metadata only, and readers see the table as empty
    (:func:`_read_manifest_data`)."""
    manifest = dict(extra or {})
    manifest.update(
        {"version": _new_version_id(), "data": {}, "schema": schema.json()}
    )
    if layout:
        manifest["layout"] = layout

    def once() -> None:
        if _manifest_read(path) is None:
            _publish_manifest(path, manifest, expect=None)

    _retry_cas(once)


def _append_data(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    expect=_ANY,
) -> None:
    """Append rows to a table AS A NEW VERSION: the new files land under
    ``_versions/<ver>/`` and the next manifest carries every previous
    data dir by reference plus the new one.

    First write: on a path with no table yet, the same publish creates
    it. The table's first manifest is a CAS against "no manifest"
    (``expect=None``) and pins the batch's schema, so two writers
    creating one table race like any other two publishes. A first write
    of an EMPTY batch creates the table by :func:`create_table` and
    removes the version dir it wrote, so an empty table has one form: a
    manifest with no data dirs. Later empty batches publish nothing
    (streaming replays are the common case). A first write with
    ``partition_by`` records it as the table's layout, so every fold and
    compact keeps the hive directories (the IVF corpus's ``cell=``).

    Maintenance: a publish that leaves more than APPEND_MANIFEST_WARN
    entries folds the raw deltas (O(deltas), base and fold tiers carried
    by reference), or — when the base and tiers alone would fill the
    bound, so a fold cannot get the count back within it — compacts the
    whole table (O(table), about once per WARN^2/2 appends). No write
    leaves more than WARN entries, with no operator in the loop.

    CAS: the version dir is written ONCE; a publish that loses the race
    only re-reads the manifest and re-points — pure appends commute, so
    no data is rewritten on retry. Callers whose SEMANTICS depend on the
    manifest state they probed (the anti-join in write_insert_if_absent)
    pass ``expect=`` the version id their probe was based on (None =
    "table had no manifest"); the publish is then a single attempt whose
    ManifestConflictError propagates, and the caller redoes the probe —
    appending under a fresh manifest here would silently re-admit keys
    the winner just landed."""
    ver = _new_version_id()
    verdir = os.path.join(path, _VERSIONS_DIR, ver)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(verdir)
    # Emptiness is decided AFTER the one write job from the landed files'
    # parquet footers — a driver-local metadata read — instead of a
    # df.isEmpty() pre-probe, which would execute the batch's whole plan
    # (anti-join shuffles run to completion even under limit 1) a second
    # time on every 5 s micro-batch.
    if _footer_row_count(verdir) == 0:
        # fully-deduped replay (streaming's common case): no version
        # churn. "All keys already present" cannot be invalidated by a
        # concurrent publish (rows are only ever added), so no CAS check
        # is needed — and on a path with no table the batch only creates
        # it.
        with _own_version_dir(path, verdir):
            cur = _manifest_read(path)
            if cur is not None:
                _refuse_bucketed(path, cur)
            else:
                create_table(
                    path, df.schema,
                    {"partition_by": list(partition_by)} if partition_by
                    else None,
                )
        shutil.rmtree(verdir, ignore_errors=True)
        return

    def publish() -> dict:
        cur = _manifest_read(path)
        if cur is None and expect not in (_ANY, None):
            raise ManifestConflictError(
                f"{path}: manifest {expect!r} disappeared under a writer"
            )
        if cur is not None:
            _refuse_bucketed(path, cur)
        manifest = dict(cur or {})
        data = dict(manifest.get("data", {}))  # prior dirs by reference
        data[ver] = os.path.join(_VERSIONS_DIR, ver)
        manifest.update(
            {
                "version": ver,
                "data": data,
                # pin (and widen) the logical schema: reads then never
                # depend on footer sampling order or hive partition-value
                # inference
                "schema": _merged_schema_json(manifest.get("schema"), df),
            }
        )
        if cur is None and partition_by:
            manifest["layout"] = {"partition_by": list(partition_by)}
        basis = cur["version"] if cur is not None else None
        _publish_manifest(
            path, manifest, expect=basis if expect is _ANY else expect
        )
        return data

    with _own_version_dir(path, verdir):
        data = _retry_cas(publish) if expect is _ANY else publish()
    _gc_versions(path, keep={verdir})
    if len(data) > APPEND_MANIFEST_WARN:
        spark = df.sparkSession
        n_entries = len(data)
        tiers = sum(k == "all" or k.startswith("fold_") for k in data)
        if tiers < APPEND_MANIFEST_WARN:
            n_entries = _retry_cas(lambda: _rewrite(spark, path, major=False))
        if n_entries > APPEND_MANIFEST_WARN:
            _retry_cas(lambda: _rewrite(spark, path, major=True))


# Footer-stat high-watermark probe (round 17): per-file max of a table's
# prune column, read from parquet footers driver-side and cached on the
# file's (path, size, mtime) identity — a file is read at most once per
# process. Lets write_insert_if_absent PROVE "no existing row can share a
# key with this batch" (max existing prune value < batch span lo) and
# skip the anti-join probe entirely — the caught-up streaming case, where
# every batch's heights are strictly new. None = file has rows but no
# usable stats (no proof; caller falls back to the join). Keyed by table
# path, then file identity; each walk of a table keeps only the entries
# of its live files, so folds and compactions do not leave dead keys.
_FOOTER_MAX_CACHE: dict[str, dict] = {}

# Footer-walk bound: past this many live files the proof is skipped and
# the pruned anti-join runs as before (maintenance folds keep streaming
# tables far below this; a years-deep unmaintained table must not turn
# the driver into a footer crawler).
_FOOTER_PROBE_MAX_FILES = 512

_NO_PROOF = object()


def _table_data_files(path: str) -> list[str]:
    """Live .parquet files of the table at ``path`` (its manifest's data
    dirs; none when the path holds no table)."""
    m = _manifest_read(path)
    if m is None:
        return []
    return [f for r in _data_dirs(path, m) for f in data_files_under(r)]


def data_files_under(root: str) -> list[str]:
    """``root`` itself when it is a file, else every .parquet file below
    it (partition subdirectories included), skipping ``_``/``.``
    directories as Spark's file index does."""
    if os.path.isfile(root):
        return [root]
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out.extend(
            os.path.join(dirpath, f)
            for f in sorted(files)
            if f.endswith(".parquet")
        )
    return out


def _prune_max_from_footers(path: str, pc: str):
    """Max value of ``pc`` across the table's live files, from footer
    stats alone. Returns _NO_PROOF when stats are unusable (missing
    column/statistics, too many files, unreadable), None when the table
    provably has no rows."""
    import pyarrow.parquet as pq

    files = _table_data_files(path)
    if len(files) > _FOOTER_PROBE_MAX_FILES:
        return _NO_PROOF
    keys = []
    for f in files:
        try:
            st = os.stat(f)
        except OSError:
            return _NO_PROOF
        keys.append((f, st.st_size, st.st_mtime_ns))
    seen = _FOOTER_MAX_CACHE.get(path, {})
    cache = _FOOTER_MAX_CACHE[path] = {k: seen[k] for k in keys if k in seen}
    best = None
    for key in keys:
        if key in cache:
            v = cache[key]
        else:
            v = None
            try:
                md = pq.ParquetFile(key[0]).metadata
                idx = {
                    md.schema.column(i).name: i
                    for i in range(md.num_columns)
                }
                if pc not in idx:
                    v = _NO_PROOF
                else:
                    for rg in range(md.num_row_groups):
                        g = md.row_group(rg)
                        if g.num_rows == 0:
                            continue
                        s = g.column(idx[pc]).statistics
                        if s is None or not s.has_min_max:
                            v = _NO_PROOF
                            break
                        v = s.max if v is None else max(v, s.max)
            except Exception:
                v = _NO_PROOF
            cache[key] = v
        if v is _NO_PROOF:
            return _NO_PROOF
        if v is not None:
            best = v if best is None else max(best, v)
    return best


def write_insert_if_absent(
    spark: SparkSession, df: DataFrame, root: str, name: str,
    key_span: tuple | None = None,
) -> None:
    """K1/K4: append rows whose natural key is not present yet (the
    ON CONFLICT DO NOTHING analog). In-batch duplicates are collapsed first.

    The existing-side probe is range-pruned to the batch's key span (same
    ledger idiom as streaming/stream.py's continuous rollup), so per-append
    cost tracks batch size even against a years-deep table — an unpruned
    probe (worse, a broadcast of it) would grow without bound with table
    size. Join strategy is left to AQE: the pruned probe is usually small
    enough that AQE picks a broadcast on its own, with a safe fallback when
    it is not. Appends are manifest-aware (:func:`_append_data`), so the
    writer keeps its idempotence contract across ``compact()`` runs."""
    keys = TABLE_KEYS[name]
    path = _table_path(root, name)
    batch = df.dropDuplicates(keys).persist()
    try:
        # A concurrent writer landing the same keys between probe and
        # append would defeat the idempotence contract. The CAS closes
        # that window: the basis version is captured BEFORE the probe and
        # the publish is conditional on it, so a concurrent writer
        # landing rows between probe and publish raises here and the whole
        # probe+append redoes against the winner's manifest — the
        # anti-join always ran against (a superset of) the state it
        # published over, which is what keeps keys exactly-once.
        def cycle() -> None:
            basis = _manifest_read(path)
            basis_ver = basis["version"] if basis is not None else None
            out = batch
            if basis is not None and not _span_proves_absent(key_span):
                probe = existing_keys_in_range(
                    spark, batch, root, name, span=key_span
                )
                # the equi-join reorders output columns KEYS-FIRST; select
                # the batch's order back so every appended file carries
                # the same column order as the table-creating write
                out = batch.join(probe, keys, "left_anti").select(
                    batch.columns
                )
            _append_data(out, path, expect=basis_ver)

        def _span_proves_absent(span: tuple | None) -> bool:
            # Footer high-watermark proof (see _prune_max_from_footers):
            # the caller's span covers every batch row's prune value
            # (TableSpec.span covering invariant, pinned by
            # tests/test_ingest.py), the prune column is part of the
            # natural key, and every existing row's prune value is
            # PROVABLY below span lo — so no existing row can equal any
            # batch row's key and the anti-join is an identity. Runs
            # inside the same CAS cycle as the probe it replaces,
            # against the exact current file set.
            if span is None or span[0] is None:
                return False
            mx = _prune_max_from_footers(path, _prune_col(keys))
            if mx is _NO_PROOF:
                return False
            return mx is None or mx < span[0]

        _retry_cas(cycle)
    finally:
        batch.unpersist()


def _enum_domains(name: str) -> tuple:
    spec = TABLE_SPECS.get(name)
    return spec.enums if spec is not None else ()


def enum_violations(df: DataFrame, name: str) -> DataFrame:
    """Rows violating the table's CHECK-style enum domains
    (schemas.TableSpec.enums — the Postgres ENUM analog, db.go:340-350,
    442-452). NULL passes (a constraint on values, not presence)."""
    cond = F.lit(False)
    for col, allowed in _enum_domains(name):
        cond = cond | (F.col(col).isNotNull() & ~F.col(col).isin(*allowed))
    return df.filter(cond)


def read_table_checked(
    spark: SparkSession, root: str, name: str
) -> tuple[DataFrame, DataFrame]:
    """Read-back with enum validation: returns (valid, violations) — the
    isin expectation the reference gets for free from Postgres ENUM types.
    Violators are quarantined like the numeric guard's rows (F7), not
    errored, so a foreign tag cannot stall the pipeline."""
    df = read_table(spark, root, name)
    bad = enum_violations(df, name)
    good = df
    for col, allowed in _enum_domains(name):
        good = good.filter(F.col(col).isNull() | F.col(col).isin(*allowed))
    return good, bad


def _keep_first(merged: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def write_keep_one(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    name: str,
    order: list[Column],
) -> None:
    """K5/K6: upsert — keep the first row per natural key under ``order``
    (e.g. desc(height_tx) = keep latest).

    Merge-on-read: the batch's per-key winners are APPENDED as a new
    version (:func:`_append_data`) — one write of batch-sized files, no
    read of stored rows, so the cost is O(batch) — and every read keeps
    one row per key under the table spec's ``keep_one`` order
    (:func:`_resolved`). ``order`` must agree with that spec order, as
    :func:`write_tables` guarantees by passing it. Appends commute, so a
    lost CAS race only re-points the manifest, and a replayed batch adds
    rows that lose (or tie identically) on read; fold and compact drop
    superseded rows from disk. On Delta this whole function is MERGE
    WHEN MATCHED UPDATE.

    Raises ValueError for a batch without the spec's key or ``keep_one``
    columns: reads could not resolve its rows to one per key."""
    spec = TABLE_SPECS[name]
    missing = [
        c for c in (*spec.keys, *(c for c, _ in spec.keep_one))
        if c not in df.columns
    ]
    if missing:
        raise ValueError(
            f"write_keep_one({name!r}): the batch lacks the table's key or "
            f"keep_one columns {missing}"
        )
    _append_data(
        _keep_first(df, list(spec.keys), order), _table_path(root, name)
    )


def read_table_version(
    spark: SparkSession, root: str, name: str, version: str | int
) -> DataFrame:
    """Time-travel read: a PAST snapshot of a table. ``version`` is a
    manifest file path from :func:`list_versions` or an index into that
    list (0 = newest). Every manifest is a complete consistent table
    listing (the flip is whole-manifest atomic), so this is a parquet
    read of the paths it references, resolved like :func:`read_table` —
    the lake-table ``VERSION AS OF`` without a transaction log, bounded
    by UPSERT_RETAIN_VERSIONS.
    Raises IndexError/FileNotFoundError for a version the GC already
    reclaimed."""
    path = _table_path(root, name)
    if isinstance(version, int):
        version = list_versions(path)[version][0]
    # no os.path.isfile pre-check: the version id is the storage seam's
    # OPAQUE history entry id (an 'key::version' string on the in-memory
    # conditional-PUT backend, a file path only on POSIX), so a
    # filesystem probe wrongly rejects every live version on non-POSIX
    # backends — the read itself raises for a GC-reclaimed version on
    # either backend (diff_table_versions already relied on exactly
    # that); normalize the in-memory backend's KeyError to the
    # documented FileNotFoundError
    try:
        m = _load_manifest_file(version)
    except KeyError as e:
        raise FileNotFoundError(version) from e
    return _resolved(_read_manifest_data(spark, path, m), name)


def diff_table_versions(
    spark: SparkSession,
    root: str,
    name: str,
    old: str | int,
    new: str | int = 0,
) -> DataFrame:
    """Change-data audit between two snapshots of an upsert table: one row
    per natural key whose state differs, tagged ``change_type`` in
    ('added', 'removed', 'changed'). The CDC readout the reference would
    get from a Postgres logical-replication slot — here it is derived,
    not logged: a full-outer join of the two snapshots on TABLE_KEYS
    comparing an md5 over the canonicalized non-key columns.

    Both sides are read by :func:`read_table_version` (one row per key
    on a keep-one table), then carry only (keys, 32-byte state hash) into
    the join — never full rows — and the join keys are the table's
    natural keys, so AQE can split any skew; unchanged keys drop out with
    a filter before anything is returned."""
    keys = TABLE_KEYS[name]
    # one listing resolves both indices, so a publish between them
    # cannot shift one side
    versions = list_versions(_table_path(root, name))
    o, n = (
        read_table_version(
            spark, root, name, versions[v][0] if isinstance(v, int) else v
        )
        for v in (old, new)
    )
    val_cols = sorted(c for c in n.columns if c not in keys)

    def hashed(df: DataFrame, alias: str) -> DataFrame:
        state = F.md5(
            F.to_json(F.struct(*[F.col(c) for c in val_cols]))
        )
        return df.select(*keys, state.alias(alias))

    j = hashed(o, "_h_old").join(hashed(n, "_h_new"), keys, "full_outer")
    change = (
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") != F.col("_h_new"), F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type")
    )


def _order_cols(spec) -> list[Column]:
    """(column, descending) pairs — a table spec's ``keep_one`` — as
    sort Columns, built at call time (a SparkSession may not exist at
    import time)."""
    return [F.desc(c) if d else F.asc(c) for c, d in spec]


def _fk_levels(names) -> list[list[str]]:
    """Partition table names into FK dependency levels (the table specs'
    ``fks`` restricted to the given set): level 0 has no in-set parents,
    level n+1 depends only on lower levels. Writing level-by-level
    preserves the parents-before-children crash contract while freeing
    every table WITHIN a level to write concurrently."""
    names = list(names)
    if not names:  # empty batch dict: no levels, not max()-on-empty
        return []
    present = set(names)
    levels: dict[str, int] = {}

    def level(n: str, seen: tuple = ()) -> int:
        if n in levels:
            return levels[n]
        parents = {
            p
            for _, p, _ in TABLE_SPECS[n].fks
            if p in present and p != n and p not in seen
        }
        lv = (
            0
            if not parents
            else 1 + max(level(p, seen + (n,)) for p in parents)
        )
        levels[n] = lv
        return lv

    for n in names:
        level(n)
    out: list[list[str]] = [[] for _ in range(max(levels.values()) + 1)]
    for n in names:  # keep the caller's dict order within each level
        out[levels[n]].append(n)
    return out


# Table writes one write_tables call runs at once (its thread pool).
_WRITE_PARALLELISM = 8


def write_tables(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    root: str,
    key_spans: dict[str, tuple] | None = None,
) -> None:
    """Write a full build_tables() result idempotently. Parents before
    children per-TABLE (the table specs' ``fks``), which eliminates the
    reference's waitCreation FK retry loop (A4/T4) — every table is
    submitted to one shared pool and waits only on ITS OWN in-set
    parents, the engine's analog of the reference's 32-connection pool
    fanning block inserts out in parallel (README.md:76). This replaces
    the earlier level-barrier schedule (round-15 p90 cut): under
    barriers an unrelated table had to wait for the slowest member of
    every previous LEVEL, so the trigger's wall time was the sum of
    tier maxima; with per-table dependencies it is the longest actual
    FK chain. Tasks are submitted in topological order into a FIFO
    pool, so when a child starts its parents have already STARTED
    (finished or running — never queued behind it): parent waits cannot
    deadlock the pool. Each table commits by its own `_CURRENT` CAS, so
    concurrent writes to DIFFERENT tables never contend; a failed write
    propagates (its children fail with it, and the streaming checkpoint
    retries the batch), preserving the parents-before-children crash
    contract: a child never commits unless its parents committed
    first."""
    os.makedirs(root, exist_ok=True)

    def _write(name: str) -> None:
        df = tables[name]
        order = TABLE_SPECS[name].keep_one
        if order:
            write_keep_one(spark, df, root, name, _order_cols(order))
        else:
            write_insert_if_absent(
                spark, df, root, name,
                key_span=(key_spans or {}).get(name),
            )

    present = set(tables.keys())
    # _fk_levels supplies the topological order AND the cycle-break: the
    # wait graph below keeps only FK edges that the level assignment
    # also honors (parent at a strictly lower level), so an FK cycle
    # degrades to same-level concurrency exactly as the old barrier
    # schedule did — raw-FK waits would deadlock the pool on a cycle
    # (A waiting on B's future while B waits on A's; round-15 review)
    tiers = _fk_levels(tables.keys())
    level = {n: i for i, tier in enumerate(tiers) for n in tier}
    parents = {
        n: {
            p
            for _, p, _ in TABLE_SPECS[n].fks
            if p in present and p != n and level[p] < level[n]
        }
        for n in present
    }
    topo = [n for tier in tiers for n in tier]
    if not topo:  # empty batch dict: no-op, never a 0-worker pool
        return
    if len(topo) == 1:
        _write(topo[0])
        return

    from concurrent.futures import ThreadPoolExecutor

    futures: dict = {}

    def _write_after_parents(name: str) -> None:
        for p in parents[name]:
            futures[p].result()  # raises if the parent write failed
        _write(name)

    with ThreadPoolExecutor(
        max_workers=min(_WRITE_PARALLELISM, len(topo))
    ) as pool:
        for n in topo:
            futures[n] = pool.submit(_write_after_parents, n)
        for n in topo:
            futures[n].result()


# The reference finds the live backup through a `latest` pointer object in
# its S3 bucket (process_s3.go:90-111): the bucket holds dated snapshot
# prefixes plus one tiny object naming the current one, so publishing a new
# snapshot is upload-then-flip-pointer — never an in-place overwrite a
# half-restored reader could see. Same contract here: a snapshots root may
# hold many named snapshot dirs plus a `latest` file; the pointer write is
# a single atomic replace (single-PUT on an object store).
_LATEST_POINTER = "latest"


def publish_snapshot(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    snapshots_root: str,
    name: str,
) -> str:
    """S8 write side: materialize ``tables`` as a named snapshot under
    ``snapshots_root`` and atomically flip the `latest` pointer to it
    (the reference's backup upload + latest-object update,
    /root/reference/process_s3.go:90-111). A crash before the flip leaves
    the previous snapshot live and the half-written one unreferenced."""
    dest = os.path.join(snapshots_root, name)
    os.makedirs(snapshots_root, exist_ok=True)
    write_tables(spark, tables, dest)
    tmp = os.path.join(
        snapshots_root, f".{_LATEST_POINTER}.__tmp_" + uuid.uuid4().hex[:8]
    )
    with open(tmp, "w") as fh:
        fh.write(name)
    os.replace(tmp, os.path.join(snapshots_root, _LATEST_POINTER))
    return dest


def resolve_snapshot_root(snapshot_root: str) -> str:
    """Follow the `latest` pointer (if present) to the live snapshot dir;
    a plain snapshot dir without a pointer resolves to itself, so
    ``bootstrap_from_snapshot`` accepts both shapes."""
    p = os.path.join(snapshot_root, _LATEST_POINTER)
    if os.path.isfile(p):
        with open(p) as fh:
            name = fh.read().strip()
        if not name:
            # an empty pointer is a half-written/corrupt publish, not
            # "no pointer": resolving it to the snapshots ROOT would make
            # bootstrap_from_snapshot misread sibling snapshot dirs as
            # tables. The reference errors on an empty latest_backup.txt
            # (process_s3.go getLatestFileKey) — same contract here.
            raise ValueError(
                f"{p}: empty `latest` pointer file — refusing to treat "
                "the snapshots root as a snapshot"
            )
        resolved = os.path.join(snapshot_root, name)
        if not os.path.isdir(resolved):
            raise FileNotFoundError(
                f"{p} points at {name!r}, which does not exist under "
                f"{snapshot_root}"
            )
        return resolved
    return snapshot_root


def bootstrap_from_snapshot(
    spark: SparkSession, snapshot_root: str, warehouse_root: str
) -> list[str]:
    """S8 snapshot restore: seed an empty warehouse from a parquet snapshot
    before streaming starts (the reference's restoreBackupFromS3 +
    pg_restore, /root/reference/process_s3.go:30-149 — parallel parquet read
    replaces pg_restore -j). ``snapshot_root`` may be a snapshot dir or a
    snapshots ROOT carrying a `latest` pointer file (the reference's
    latest-object indirection, process_s3.go:90-111) — resolved here.
    Existing tables are left untouched so a restart after a partial
    bootstrap is safe: each table is restored by one manifest publish,
    so it either exists in full or not at all. A snapshot table may be a
    manifest table (what :func:`publish_snapshot` writes; read like
    :func:`read_table`, so a keep-one table restores one row per key) or
    a plain parquet dir from outside the engine. Every table restores
    through the first-write publish of :func:`_append_data`."""
    snapshot_root = resolve_snapshot_root(snapshot_root)
    os.makedirs(warehouse_root, exist_ok=True)
    restored = []
    for name in sorted(os.listdir(snapshot_root)):
        if name.startswith((".", "_")):  # hidden/internal entries
            continue
        src = os.path.join(snapshot_root, name)
        if not os.path.isdir(src):
            continue
        dst = _table_path(warehouse_root, name)
        if _exists(dst):
            continue
        df = (
            read_table(spark, snapshot_root, name)
            if _exists(src)
            else spark.read.parquet(src)
        )
        _append_data(df, dst, expect=None)
        restored.append(name)
    return restored


def compact(
    spark: SparkSession,
    path: str,
    target_partitions: int | None = None,
) -> None:
    """Major compaction: rewrite the whole table as one version under its
    layout (:func:`_layout`) — the small-file fix for a table that
    streaming ingest built from many tiny appends (every file is a task
    and an open/close). A keep-one table is resolved to one row per key
    first. The writer runs this itself when folds can no longer keep the
    manifest within APPEND_MANIFEST_WARN (:func:`_append_data`); call it
    out-of-band, like VACUUM/OPTIMIZE, to size the table:
    ``target_partitions`` is recorded into the layout, so every later
    rewrite keeps it. Publishing is the same atomic `_CURRENT` flip as
    every writer, so readers racing a compaction always see a full
    table; the replaced files are GC'd after the grace period. An empty
    table has nothing to rewrite and is left as it is. Raises
    FileNotFoundError for a path that holds no table."""
    n = _retry_cas(lambda: _rewrite(spark, path, True, target_partitions))
    if n is None:
        raise FileNotFoundError(f"{path}: no table (no {_CURRENT_FILE})")


def fold_appends(spark: SparkSession, path: str) -> bool:
    """Incremental compaction: fold ONLY the version dirs appended since
    the last compact/fold into one new tier under the table's layout,
    carrying the base ``"all"`` entry and earlier tiers by reference —
    cost is O(deltas since the last fold), never O(table), which is what
    lets the writer fold on every bound crossing when the base holds a
    100 TB store. Returns False for a path that holds no table and True
    otherwise, including the nothing-to-fold case. Same atomic
    `_CURRENT` flip; a crash leaves the previous manifest live."""
    return _retry_cas(lambda: _rewrite(spark, path, False)) is not None


def _rewrite(
    spark: SparkSession,
    path: str,
    major: bool,
    target_partitions: int | None = None,
) -> int | None:
    """One attempt at the one maintenance rewrite (run it under
    :func:`_retry_cas`): read some of the table's manifest entries,
    write their rows as one new version under :func:`_layout`, and
    publish it in their place by CAS against the manifest read. A FOLD
    (``major=False``) reads the raw per-append deltas and carries the
    base ``"all"`` and the ``fold_*`` tiers by reference; a MAJOR reads
    every entry and leaves the single entry ``"all"``. A keep-one
    table's superseded rows among what is read drop here; rows
    superseded across tiers wait for the next major. Everything else in
    the manifest is carried: app-level keys (the heavy-hitter store's
    counts, the rollup ledger's encoding) ride in the manifest so they
    flip atomically with the data, the pinned schema is widened, never
    narrowed, and the recorded layout gains ``target_partitions`` when
    given. Returns the number of entries the table is left with (None
    when the path holds no table): the current count, with nothing
    published, when a fold finds fewer than two deltas or a major finds
    an empty table."""
    m = _manifest_read(path)
    if m is None:
        return None
    carried = {
        k: rel
        for k, rel in m["data"].items()
        if not major and (k == "all" or k.startswith("fold_"))
    }
    read = {k: rel for k, rel in m["data"].items() if k not in carried}
    if len(read) < (1 if major else 2):
        return len(m["data"])
    layout = dict(m.get("layout") or {})
    if target_partitions is not None:
        layout["target_partitions"] = target_partitions
    # the read pins the manifest's schema, which also fixes hive
    # partition-value TYPES: per-root inference would retype '04' to the
    # int 4 in the rewritten files
    df = _resolved(
        _read_manifest_data(spark, path, dict(m, data=read)), _name_of(path)
    )
    mode, cols, n = _layout(path, layout, df.columns)
    if mode == "range_by":
        out = df.repartitionByRange(n, *cols)
    else:
        out = df.repartition(n, *cols)
    if mode in ("cluster_by", "range_by"):
        out = out.sortWithinPartitions(*cols)
    ver = _new_version_id()
    verdir = os.path.join(path, _VERSIONS_DIR, ver)
    writer = out.write.mode("overwrite")
    if mode == "partition_by":
        writer = writer.partitionBy(*cols)
    writer.parquet(verdir)
    data = dict(carried)
    data["all" if major else "fold_" + ver] = os.path.join(_VERSIONS_DIR, ver)
    new = dict(
        m,
        version=ver,
        data=data,
        schema=_merged_schema_json(m.get("schema"), out),
    )
    if layout:
        new["layout"] = layout
    with _own_version_dir(path, verdir):
        _publish_manifest(path, new, expect=m["version"])
    _gc_versions(path, keep={verdir})
    return len(data)


def vacuum(
    path: str,
    retain: int | None = None,
    grace: float | None = None,
) -> None:
    """Out-of-band space reclamation for a manifest table: run the same
    grace-period / retention GC every publish runs — for tables that have
    STOPPED receiving writes (a table's superseded versions otherwise
    linger until its next write) — and also reclaim version dirs no
    manifest names. Those are crash orphans or a rival's in-flight write,
    which publish-time GC never touches; table_health's ``needs_vacuum``
    flags their growth. ``retain`` overrides UPSERT_RETAIN_VERSIONS for
    this pass (e.g. ``retain=1`` keeps only the current snapshot). Run it
    quiesced, or pass ``grace`` sized above the longest in-flight write
    so a slow rival's unpublished version is not reclaimed."""
    _gc_versions(path, retain=retain, grace=grace, unpublished=True)


def evolve_append(
    spark: SparkSession, df: DataFrame, root: str, name: str
) -> None:
    """K8 schema evolution (isColumnExist/addColumn, /root/reference/
    db.go:1688-1708) the lake-table way: an append whose batch carries NEW
    columns widens the schema its manifest pins (every append does, see
    :func:`_merged_schema_json`), so older versions' files read back
    with the column as null; a batch MISSING known columns is padded
    with typed nulls from that pinned schema. No ALTER, no rewrite, no
    downtime; on Delta this is mergeSchema=true on write."""
    path = _table_path(root, name)
    m = _manifest_read(path)
    for field in _pinned_schema(m).fields if m is not None else ():
        if field.name not in df.columns:
            df = df.withColumn(field.name, F.lit(None).cast(field.dataType))
    _append_data(df, path)


def table_ddl(
    name: str,
    schema,
    location: str | None = None,
    partition_by: list[str] | None = None,
) -> str:
    """Render CREATE TABLE DDL for a table of this engine's 23-table model
    (K8: the declarative twin of the reference's compiled-in DDL strings,
    /root/reference/db.go:178-525). Schemas are derived from the ingest
    builders' outputs, so this is an EXPORT of the single source of truth,
    not a second copy; unique constraints do not exist in Spark DDL — they
    live in TABLE_KEYS and are enforced by the idempotent writers."""
    # simpleString() is emitted as-is: uppercasing it would mangle field
    # names inside struct/map types; names are backquoted so reserved
    # words and exotic identifiers survive
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    ddl = f"CREATE TABLE {name} ({cols}) USING PARQUET"
    if partition_by:
        ddl += f" PARTITIONED BY ({', '.join(partition_by)})"
    if location:
        ddl += f" LOCATION '{location}'"
    return ddl


def integrity_report(
    spark: SparkSession, root: str, tables: list[str] | None = None
) -> DataFrame:
    """Constraint audit over a warehouse: one row per (table, check) with
    its violation count — the after-the-fact twin of the Postgres
    constraints the reference's DDL declares (unique keys db.go:1654-1686,
    the commented-out FOREIGN KEYs db.go:359-389, ENUM domains
    db.go:340-350). Checks:

    - ``key_unique``     duplicate natural keys (TableSpec.keys)
    - ``key_nulls``      rows with a NULL natural-key column
    - ``enum_domain``    values outside TableSpec.enums
    - ``fk_orphans:<p>`` child keys with no parent row (TableSpec.fks);
                         NULL child keys are exempt, SQL-style

    Fully lazy: every check is a 1-row aggregate (uniqueness via one
    hash aggregate on the key, orphans via a left-anti join the optimizer
    is free to broadcast) unioned into a single DataFrame — collecting it
    runs all checks; at 100 TB each is a well-shaped distributed job, and
    a scheduled run of this IS the lake-warehouse answer to `ALTER TABLE
    .. ADD CONSTRAINT`. A healthy warehouse reports all zeros."""
    present = {
        t
        for t in (tables if tables is not None else TABLE_SPECS)
        if _exists(_table_path(root, t))
    }
    checks: list[DataFrame] = []

    def add(table: str, check: str, cnt_df: DataFrame) -> None:
        checks.append(
            cnt_df.select(
                F.lit(table).alias("table"),
                F.lit(check).alias("check"),
                F.col("violations").cast("long").alias("violations"),
            )
        )

    for t in sorted(present):
        df = read_table(spark, root, t)
        keys = TABLE_SPECS[t].keys
        # Null-safe duplicate count: groupBy treats NULL as a regular group
        # value, so rows with NULL keys are counted as duplicates only when
        # they actually repeat.  (count_distinct drops any tuple containing
        # a NULL, which would misreport every NULL-key row as a duplicate
        # and conflate this check with key_nulls below.)
        add(
            t,
            "key_unique",
            df.groupBy(*[F.col(k) for k in keys])
            .agg(F.count("*").alias("cnt"))
            .agg(
                F.coalesce(
                    F.sum(F.col("cnt") - F.lit(1)), F.lit(0)
                ).alias("violations")
            ),
        )
        null_key = None
        for k in keys:
            c = F.col(k).isNull()
            null_key = c if null_key is None else (null_key | c)
        add(
            t,
            "key_nulls",
            df.agg(F.count_if(null_key).alias("violations")),
        )
        if TABLE_SPECS[t].enums:
            add(
                t,
                "enum_domain",
                enum_violations(df, t).agg(
                    F.count("*").alias("violations")
                ),
            )
        for child_cols, parent, parent_cols in TABLE_SPECS[t].fks:
            if parent not in present:
                continue
            child = df
            for c in child_cols:
                child = child.filter(F.col(c).isNotNull())
            pdf = read_table(spark, root, parent).select(
                *[
                    F.col(pc).alias(cc)
                    for cc, pc in zip(child_cols, parent_cols)
                ]
            ).distinct()
            orphans = child.join(pdf, list(child_cols), "left_anti")
            add(
                t,
                f"fk_orphans:{parent}",
                orphans.agg(F.count("*").alias("violations")),
            )

    if not checks:
        return spark.createDataFrame(
            [], "table string, check string, violations long"
        )
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def table_health(root: str) -> list[dict]:
    """File-layout health report per table: file count, total bytes, mean
    file size, and retained version count — the numbers that decide when
    to run ``compact`` (streaming ingest's many tiny appends are the
    classic small-file problem; a mean file size far below the HDFS/S3
    sweet spot means scans are paying per-file open cost). Pure local
    metadata walk — no Spark job, safe to run from a cron. Directories
    without a manifest hold no table and are skipped; an empty table
    reports 0 files."""
    out = []
    if not os.path.isdir(root):
        return out
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if name.startswith((".", "_")) or not os.path.isdir(path):
            continue
        m = _manifest_read(path)
        if m is None:
            continue
        n_files, n_bytes = 0, 0
        for r in _data_dirs(path, m):
            for dirpath, _, files in os.walk(r):
                for f in files:
                    if f.endswith(".parquet"):
                        n_files += 1
                        try:
                            n_bytes += os.path.getsize(
                                os.path.join(dirpath, f)
                            )
                        except OSError:
                            pass
        n_entries = len(m["data"])
        # count history through the STORAGE seam — an os.listdir here
        # would always see 0 on a non-POSIX backend (silencing the
        # needs_vacuum flag this report exists to raise) and miscount
        # .__tmp_* partials as history on POSIX. count_history is a name
        # count (one listdir), NOT the parse-every-manifest listing: a
        # cron health check must not read hundreds of MB of manifest
        # JSON to produce one integer
        n_history = STORAGE.count_history(path)
        n_versions = len(_version_paths(path))
        # probe-pruning status for KEYED insert-if-absent tables (a
        # keep-one table has no probe, so None): the idempotent
        # writer's anti-join probe stays O(batch) only while min/max
        # stats on the prune column actually skip files.
        #   "natural"   — no compacted "all" base: raw deltas carry
        #                 contiguous spans by construction;
        #   "clustered" — the table's layout (:func:`_layout`), which
        #                 the base was rewritten under, covers the prune
        #                 column;
        #   "degraded"  — an "all" base laid out by columns that miss
        #                 the prune column: probes scan the whole base.
        probe_pruning = None
        spec = TABLE_SPECS.get(name)
        if spec is not None and not spec.keep_one:
            if "all" not in m["data"]:
                probe_pruning = "natural"
            else:
                schema = _pinned_schema(m)
                _, cols, _ = _layout(
                    path, m.get("layout") or {},
                    schema.fieldNames() if schema is not None else (),
                )
                probe_pruning = (
                    "clustered" if _prune_col(spec.keys) in cols
                    else "degraded"
                )
        out.append(
            {
                "table": name,
                "n_files": n_files,
                "total_bytes": n_bytes,
                "mean_file_bytes": n_bytes // max(n_files, 1),
                "n_versions": n_versions,
                "manifest_entries": n_entries,
                "manifest_history": n_history,
                # over the bound: a writer that ran with a larger bound
                # left the table — compact() it
                "needs_compaction": n_entries > APPEND_MANIFEST_WARN,
                # publish-time GC leaves version dirs no manifest names
                # (crash orphans) to vacuum() — surface their growth
                # instead of letting it silently accumulate (ADVICE r9)
                "needs_vacuum": (
                    n_history > HISTORY_VACUUM_WARN
                    or n_versions > HISTORY_VACUUM_WARN
                ),
                "probe_pruning": probe_pruning,
            }
        )
    return out
