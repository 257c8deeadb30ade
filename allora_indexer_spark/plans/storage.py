"""Storage backends for the manifest CAS publish seam (r8/r9 verdict #4).

The warehouse layout (plans/warehouse.py) needs a small set of
primitives from its storage: read the live manifest, perform the
check-and-flip publish as one indivisible step, and list/read/age/delete
history entries (time travel + GC). Parquet data files and version-dir
walks remain ordinary file I/O that Spark and the maintenance code do
directly — on an object store those are the data plane the cluster
already talks to; this seam is the metadata plane.

Two implementations of the seam:

- :class:`PosixManifestStorage` (the default): atomic object writes are
  temp-file + ``os.replace``; check-and-flip atomicity comes from a
  few-millisecond flock(2) micro-lock (``_cas_section``) around the
  read → If-Match check → history write → pointer replace. It is not a
  writer mutex (writers hold no lock across their read-merge-publish
  cycle); it only guards the pointer swap itself.

- :class:`InMemoryManifestStorage`: conditional-PUT semantics over an
  in-process dict — the shape of an object-store adapter (S3
  ``If-Match`` / GCS ``x-goog-if-generation-match`` on the `_CURRENT`
  key), where the entire critical section collapses into ONE conditional
  PUT. It is deterministically LOSABLE: tests set ``.interleave`` to a
  callable that runs inside the publish critical section *before* the
  If-Match check, landing a rival flip exactly in the conflict window —
  an interleaving no amount of flock-based racing can schedule reliably.
  A real object-store backend implements this same class surface with
  network PUTs; the warehouse code above the seam does not change.

Reference semantic: Postgres serializes the reference's writers for free
(ON CONFLICT inside transactions, /root/reference/db.go:1118-1185); this
seam is where that serialization contract binds to a storage system.
"""

from __future__ import annotations

import contextlib
import copy
import json
import os
import threading
import time
import uuid

_CURRENT_FILE = "_CURRENT"
_MANIFESTS_DIR = "_manifests"
_CAS_LOCK_FILE = ".__cas"

# Sentinel: publish unconditionally (internal staging publishes, test
# fixtures). Distinct from expect=None, which means "the table had NO
# manifest when the writer read it".
_ANY = object()


class ManifestConflictError(RuntimeError):
    """`_CURRENT` moved between a writer's manifest read and its publish
    — another writer's flip landed first. Public writers catch this and
    retry their whole read-merge-publish cycle against the new manifest
    (the object-store optimistic-concurrency loop; reference semantic:
    Postgres ON CONFLICT serialization, /root/reference/db.go:1118-1185)."""


def _atomic_write_json(target: str, obj: dict) -> None:
    """Single-object atomic publish: write to a temp name, fsync, one
    os.replace, fsync the directory. On an object store this is a single
    PUT of the final key — the only primitive the layout requires.

    The fsyncs make the atomicity hold across POWER loss, not just
    process crashes: without them, ext4 delayed allocation can replay
    the rename but not the data, leaving a zero-length `_CURRENT` that
    fails every reader until manual repair — and a flipped pointer whose
    history entry is empty breaks the parent-chain walk and GC's
    referenced-dirs parse."""
    tmp = target + ".__tmp_" + uuid.uuid4().hex[:8]
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, target)
    dfd = os.open(os.path.dirname(target) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


@contextlib.contextmanager
def _cas_section(path: str):
    """The few-millisecond critical section that makes check+flip of
    `_CURRENT` atomic on POSIX. This micro-lock is not a writer mutex
    (writers hold no lock across their read-merge-publish cycle); it
    only guards the pointer swap itself. On an object store the entire
    section is replaced by a single conditional PUT (If-Match /
    x-amz-copy-source-if-match on `_CURRENT`), which is why it is
    isolated here."""
    import fcntl

    parent = os.path.dirname(os.path.normpath(path)) or "."
    os.makedirs(parent, exist_ok=True)
    fd = os.open(os.path.normpath(path) + _CAS_LOCK_FILE, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        try:
            fcntl.flock(fd, fcntl.LOCK_UN)
        except OSError:
            pass
        os.close(fd)


class PosixManifestStorage:
    """The default backend: manifests are plain JSON files beside the
    data, the pointer flip is one ``os.replace``, and check-and-flip is
    serialized by ``_cas_section``'s flock micro-lock — correct for any
    number of processes sharing one POSIX filesystem.

    History entries are identified by an OPAQUE ``entry_id`` (here: the
    absolute file path; an object store would use the key). Callers
    never parse it — they pass it back to :meth:`read_history` /
    :meth:`history_age_ref` / :meth:`delete_history`."""

    def read_current(self, path: str) -> dict | None:
        """The live manifest of the table at ``path``, or None when the
        path holds no table."""
        cur = os.path.join(path, _CURRENT_FILE)
        if not os.path.isfile(cur):
            return None
        with open(cur) as fh:
            return json.load(fh)

    def list_history(self, path: str) -> list[tuple[str, dict]]:
        """(entry_id, manifest) for every readable history entry, in no
        particular order (ordering is the caller's parent-chain walk).
        Entries GC'd or mid-write between listing and read are skipped."""
        mdir = os.path.join(path, _MANIFESTS_DIR)
        if not os.path.isdir(mdir):
            return []
        out: list[tuple[str, dict]] = []
        for f in os.listdir(mdir):
            if not f.endswith(".json"):
                continue
            mf = os.path.join(mdir, f)
            try:
                with open(mf) as fh:
                    out.append((mf, json.load(fh)))
            except (OSError, ValueError):
                continue
        return out

    def count_history(self, path: str) -> int:
        """Number of history entries — a NAME count only (one listdir),
        never a parse: health checks call this per table from cron, and
        parsing every manifest (list_history) is O(history × manifest
        size) I/O for a number that only gates a warning flag."""
        mdir = os.path.join(path, _MANIFESTS_DIR)
        if not os.path.isdir(mdir):
            return 0
        return sum(1 for f in os.listdir(mdir) if f.endswith(".json"))

    def read_history(self, entry_id: str) -> dict:
        with open(entry_id) as fh:
            return json.load(fh)

    def history_age_ref(self, entry_id: str) -> float:
        """Wall-clock reference for GC grace (POSIX: file mtime)."""
        return os.path.getmtime(entry_id)

    def delete_history(self, entry_id: str) -> None:
        os.remove(entry_id)

    def publish(self, path: str, manifest: dict, expect=_ANY) -> None:
        """Atomically: observe `_CURRENT`, verify the If-Match guard
        (raise :class:`ManifestConflictError` on a lost race), stamp the
        observed version as ``parent``, persist the manifest into
        history, flip the pointer. The history write precedes the flip
        INSIDE the critical section, so any later history listing that
        sees the new `_CURRENT` is guaranteed to find its file."""
        mdir = os.path.join(path, _MANIFESTS_DIR)
        os.makedirs(mdir, exist_ok=True)
        with _cas_section(path):
            cur = self.read_current(path)
            cur_ver = cur["version"] if cur is not None else None
            if expect is not _ANY and cur_ver != expect:
                raise ManifestConflictError(
                    f"{path}: _CURRENT is {cur_ver!r}, writer merged "
                    f"against {expect!r} — concurrent publish won; retry "
                    "the merge"
                )
            # never mutate the CALLER's dict: a conflict-retry loop that
            # reuses one manifest object would otherwise observe a stale
            # 'parent' stamped by an earlier attempt (or carry one
            # table's parent into another table's history)
            manifest = dict(manifest)
            manifest["parent"] = cur_ver
            _atomic_write_json(
                os.path.join(mdir, manifest["version"] + ".json"), manifest
            )
            _atomic_write_json(os.path.join(path, _CURRENT_FILE), manifest)


class InMemoryManifestStorage:
    """Object-store fake: conditional-PUT publish over an in-process
    dict, thread-safe, with a deterministic conflict injector.

    ``interleave``: a callable fired inside the publish critical section
    *before* the If-Match check, then cleared (one shot). Pointing it at
    a rival ``publish`` lands the rival's flip exactly inside the
    window the CAS exists to guard — the deterministic lost-update test
    that real flock interleavings can only hit probabilistically. The
    lock is re-entrant so the hook may itself publish.

    History is kept per table in publish order, exposed via
    :meth:`history` so seam tests can assert the parent chain without a
    filesystem."""

    def __init__(self) -> None:
        self._tables: dict[str, dict] = {}
        # flat history index: entry_id -> (manifest, publish wall time);
        # entry_id is "<table key>::<version>", opaque to callers
        self._entries: dict[str, tuple[dict, float]] = {}
        self._lock = threading.RLock()
        self.interleave = None

    def _key(self, path: str) -> str:
        return os.path.normpath(path)

    def read_current(self, path: str) -> dict | None:
        with self._lock:
            t = self._tables.get(self._key(path))
            if not t or t["current"] is None:
                return None
            return copy.deepcopy(t["current"])

    def publish(self, path: str, manifest: dict, expect=_ANY) -> None:
        with self._lock:
            hook, self.interleave = self.interleave, None
            if hook is not None:
                hook()  # the rival's flip lands first, deterministically
            t = self._tables.setdefault(
                self._key(path), {"current": None, "history": []}
            )
            cur = t["current"]
            cur_ver = cur["version"] if cur is not None else None
            if expect is not _ANY and cur_ver != expect:
                raise ManifestConflictError(
                    f"{path}: _CURRENT is {cur_ver!r}, writer merged "
                    f"against {expect!r} — concurrent publish won; retry "
                    "the merge"
                )
            # same caller-dict protection as the POSIX backend
            manifest = dict(manifest)
            manifest["parent"] = cur_ver
            t["history"].append(copy.deepcopy(manifest))
            t["current"] = copy.deepcopy(manifest)
            self._entries[f"{self._key(path)}::{manifest['version']}"] = (
                copy.deepcopy(manifest),
                time.time(),
            )

    def history(self, path: str) -> list[dict]:
        """All manifests ever published for ``path``, in publish order
        (includes entries later deleted by GC — the publish log)."""
        with self._lock:
            t = self._tables.get(self._key(path))
            return copy.deepcopy(t["history"]) if t else []

    def list_history(self, path: str) -> list[tuple[str, dict]]:
        prefix = self._key(path) + "::"
        with self._lock:
            return [
                (eid, copy.deepcopy(m))
                for eid, (m, _) in self._entries.items()
                if eid.startswith(prefix)
            ]

    def count_history(self, path: str) -> int:
        prefix = self._key(path) + "::"
        with self._lock:
            return sum(
                1 for eid in self._entries if eid.startswith(prefix)
            )

    def read_history(self, entry_id: str) -> dict:
        with self._lock:
            return copy.deepcopy(self._entries[entry_id][0])

    def history_age_ref(self, entry_id: str) -> float:
        with self._lock:
            return self._entries[entry_id][1]

    def delete_history(self, entry_id: str) -> None:
        with self._lock:
            self._entries.pop(entry_id, None)


class OpCountingStorage:
    """Metering decorator for any manifest-storage backend: counts every
    metadata-plane operation by name, delegating the work to ``inner``.

    Why this exists: at the 100 TB design point the metadata plane is an
    object store where REQUEST RATE (reads, lists, conditional PUTs per
    second) is the provisioning bottleneck, not bytes — 23 tables on a
    5 s micro-batch cadence each drive manifest reads, a CAS PUT, and a
    GC walk per batch, and any accidental O(live versions) or O(history)
    loop in the write path multiplies straight into the store's request
    bill. Wrapping ``warehouse.STORAGE`` with this makes ops/batch a
    measured envelope (test_storage_seam.py pins it; tools/soak.py
    reports it) instead of a design claim. Reference analog: the
    reference's pool_max_conns=32 sizing (README.md:76) is the same
    metadata-plane budget for its Postgres sink.

    ``ops`` maps operation name -> count since construction/`reset()`.
    ``snapshot()`` returns a plain dict copy; ``delta(before)`` returns
    ops-since-`before` for per-phase accounting."""

    _METERED = (
        "read_current",
        "publish",
        "list_history",
        "count_history",
        "read_history",
        "history_age_ref",
        "delete_history",
    )

    def __init__(self, inner) -> None:
        self.inner = inner
        self.ops: dict[str, int] = {m: 0 for m in self._METERED}
        self._oplock = threading.Lock()

    def reset(self) -> None:
        with self._oplock:
            for m in self._METERED:
                self.ops[m] = 0

    def snapshot(self) -> dict[str, int]:
        with self._oplock:
            return dict(self.ops)

    def delta(self, before: dict[str, int]) -> dict[str, int]:
        now = self.snapshot()
        return {m: now[m] - before.get(m, 0) for m in self._METERED}

    def _count(self, name: str) -> None:
        with self._oplock:
            self.ops[name] += 1

    def __getattr__(self, name: str):
        # unmetered extras (e.g. the in-memory fake's `history` log)
        # pass straight through to the wrapped backend
        return getattr(self.inner, name)

    def __setattr__(self, name: str, value) -> None:
        # writes to the wrapper's OWN state stay local; everything else
        # delegates to the wrapped backend — without this, setting e.g.
        # the in-memory fake's `interleave` conflict injector on a
        # wrapped STORAGE landed in the wrapper's instance dict and the
        # inner backend never saw it, so a lost-update test composed
        # over the metering decorator passed vacuously
        if name in ("inner", "ops", "_oplock") or hasattr(
            type(self), name
        ):
            object.__setattr__(self, name, value)
        else:
            setattr(self.inner, name, value)

    def read_current(self, path: str):
        self._count("read_current")
        return self.inner.read_current(path)

    def publish(self, path: str, manifest: dict, expect=_ANY) -> None:
        self._count("publish")
        return self.inner.publish(path, manifest, expect)

    def list_history(self, path: str):
        self._count("list_history")
        return self.inner.list_history(path)

    def count_history(self, path: str) -> int:
        self._count("count_history")
        return self.inner.count_history(path)

    def read_history(self, entry_id: str) -> dict:
        self._count("read_history")
        return self.inner.read_history(entry_id)

    def history_age_ref(self, entry_id: str) -> float:
        self._count("history_age_ref")
        return self.inner.history_age_ref(entry_id)

    def delete_history(self, entry_id: str) -> None:
        self._count("delete_history")
        return self.inner.delete_history(entry_id)
