"""The storage-backend seam (plans/storage.py, verdict r8/r9 #4): the
CAS publish contract must hold identically on the POSIX backend (flock
micro-lock + os.replace) and on the in-memory conditional-PUT fake (the
object-store adapter template) — and the fake's deterministic conflict
injector must exercise the exact lost-update window flock-based tests can
only hit probabilistically.

Reference semantic: Postgres ON CONFLICT serialization
(/root/reference/db.go:1118-1185) — the seam is where that contract binds
to a storage system instead of a database.
"""

from __future__ import annotations

import os
import threading

import pytest

from allora_indexer_spark.plans import storage, warehouse
from allora_indexer_spark.schemas import TABLE_SPECS


def _mem(monkeypatch) -> storage.InMemoryManifestStorage:
    st = storage.InMemoryManifestStorage()
    monkeypatch.setattr(warehouse, "STORAGE", st)
    return st


# ---------------------------------------------------------------------------
# Contract equivalence across backends
# ---------------------------------------------------------------------------


def test_seam_contract_equivalent(tmp_path, seam_backend):
    """read_current/publish/conflict behave identically on both backends:
    fresh table → None; _ANY publish lands; expect-guarded publish flips;
    stale expect raises; expect=None means 'no manifest yet'."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    assert warehouse._manifest_read(path) is None
    warehouse._publish_manifest(path, {"version": "v0", "data": {}})
    assert warehouse._manifest_read(path)["version"] == "v0"
    warehouse._publish_manifest(
        path, {"version": "v1", "data": {"a": "x"}}, expect="v0"
    )
    m = warehouse._manifest_read(path)
    assert m["version"] == "v1" and m["data"] == {"a": "x"}
    with pytest.raises(storage.ManifestConflictError, match="v1"):
        warehouse._publish_manifest(
            path, {"version": "v2", "data": {}}, expect="v0"
        )
    with pytest.raises(storage.ManifestConflictError):
        warehouse._publish_manifest(
            path, {"version": "v2", "data": {}}, expect=None
        )
    # created/seq stamps ride through the seam unchanged
    assert "created" in m and "seq" in m and m["parent"] == "v0"


def test_conflict_error_is_warehouse_conflict_error():
    """The exception class re-exported by warehouse must BE the storage
    one — writers catching warehouse.ManifestConflictError must see
    conflicts raised by any backend."""
    assert warehouse.ManifestConflictError is storage.ManifestConflictError


# ---------------------------------------------------------------------------
# Deterministically losable conditional PUT (memory backend only — the
# interleave window cannot be scheduled deterministically with flock)
# ---------------------------------------------------------------------------


def test_memory_backend_deterministic_lost_put(tmp_path, monkeypatch):
    """A rival flip lands INSIDE the publish critical section, before the
    If-Match check: the conditional publish must lose loudly, and
    _retry_cas must then converge with both updates intact."""
    st = _mem(monkeypatch)
    path = str(tmp_path / "t")
    warehouse._publish_manifest(path, {"version": "v0", "data": {}})

    def rival():
        # fired from inside the victim's publish — the exact window
        warehouse._publish_manifest(
            path, {"version": "rival", "data": {"r": "x"}}, expect="v0"
        )

    st.interleave = rival
    with pytest.raises(storage.ManifestConflictError, match="rival"):
        warehouse._publish_manifest(
            path, {"version": "mine", "data": {"m": "y"}}, expect="v0"
        )
    # the rival's flip survived; nothing was overwritten
    assert warehouse._manifest_read(path)["version"] == "rival"

    # the full writer loop: lose once (hook re-armed), then converge
    calls = {"n": 0}

    def cycle():
        calls["n"] += 1
        m = warehouse._manifest_read(path)
        if calls["n"] == 1:
            st.interleave = lambda: warehouse._publish_manifest(
                path,
                {"version": "rival2", "data": dict(m["data"], r2="z")},
                expect=m["version"],
            )
        warehouse._publish_manifest(
            path,
            {"version": f"mine{calls['n']}", "data": dict(m["data"], m="y")},
            expect=m["version"],
        )

    warehouse._retry_cas(cycle)
    final = warehouse._manifest_read(path)
    assert calls["n"] == 2
    assert final["data"] == {"r": "x", "r2": "z", "m": "y"}
    # parent chain: v0 -> rival -> rival2 -> mine2
    chain = [m["version"] for m in st.history(path)]
    assert chain == ["v0", "rival", "rival2", "mine2"]


def test_memory_backend_threaded_hammer_no_lost_update(tmp_path, monkeypatch):
    """Many threads × many read-merge-publish cycles with NO mutex at all:
    conditional-PUT + retry alone must keep every update — the lost-update
    proof on pure object-store semantics."""
    _mem(monkeypatch)
    path = str(tmp_path / "t")
    warehouse._publish_manifest(path, {"version": "v0", "data": {}})
    n_threads, n_iters = 4, 12
    errors: list[Exception] = []

    def writer(wid: int) -> None:
        try:
            for i in range(n_iters):

                def attempt():
                    m = warehouse._manifest_read(path)
                    data = dict(m["data"])
                    data[f"w{wid}_{i}"] = "x"
                    warehouse._publish_manifest(
                        path,
                        {"version": f"vw{wid}_{i}", "data": data},
                        expect=m["version"],
                    )

                warehouse._retry_cas(attempt)
        except Exception as e:  # pragma: no cover — surfaced below
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    m = warehouse._manifest_read(path)
    expected = {
        f"w{w}_{i}" for w in range(n_threads) for i in range(n_iters)
    }
    assert set(m["data"]) == expected
    # every publish is one link of the parent chain (no forks survive)
    hist = warehouse.STORAGE.history(path)
    by_ver = {h["version"]: h for h in hist}
    chain = []
    v = m["version"]
    while v is not None:
        chain.append(v)
        v = by_ver[v]["parent"]
    assert len(chain) == n_threads * n_iters + 1


def test_memory_backend_list_versions_and_history_gc(tmp_path, monkeypatch):
    """The maintenance surface above the seam — parent-chain history
    ordering, manifest loads by opaque entry id, and retained-horizon
    history GC — must work unchanged on the conditional-PUT backend."""
    st = _mem(monkeypatch)
    path = str(tmp_path / "t")
    os.makedirs(path)
    warehouse._publish_manifest(path, {"version": "v0", "data": {}})
    warehouse._publish_manifest(
        path, {"version": "vA", "data": {"a": "x"}}, expect="v0"
    )
    warehouse._publish_manifest(
        path, {"version": "vB", "data": {"b": "y"}}, expect="vA"
    )
    got = [
        warehouse._load_manifest_file(mf)["version"]
        for mf, _ in warehouse.list_versions(path)
    ]
    assert got == ["vB", "vA", "v0"]
    # history GC beyond the retained horizon, via the seam
    warehouse._gc_versions(path, retain=2, grace=0.0)
    got2 = [
        warehouse._load_manifest_file(mf)["version"]
        for mf, _ in warehouse.list_versions(path)
    ]
    assert got2 == ["vB", "vA"]
    # the publish LOG keeps every flip (it is the log, not the live set)
    assert [m["version"] for m in st.history(path)] == ["v0", "vA", "vB"]


# ---------------------------------------------------------------------------
# End-to-end: a real Spark writer on the memory backend
# ---------------------------------------------------------------------------


def test_lockfree_upserts_on_memory_backend(spark, tmp_path, monkeypatch):
    """write_keep_one end-to-end with manifests in the memory backend and
    parquet data on disk — the deployment shape of an object store
    (conditional-PUT pointer, dumb blob data). Concurrent writers' rows
    must all survive, same as the POSIX variant in test_warehouse_cas.py."""
    _mem(monkeypatch)
    root = str(tmp_path / "wh")
    order = warehouse._order_cols(TABLE_SPECS["scores"].keep_one)

    def mk(rows):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            rows,
            "height int, topic_id int, type string, address string,"
            " height_tx long, value double",
        )
        return df.withColumn("value_raw", F.col("value").cast("string"))

    warehouse.write_keep_one(
        spark, mk([(0, 0, "inferer", "seed", 1, 0.0)]), root, "scores", order
    )
    errors: list[Exception] = []

    def writer(wid: int) -> None:
        try:
            for i in range(3):
                warehouse.write_keep_one(
                    spark,
                    mk([(100 * wid + i + 1, wid, "inferer", f"w{wid}", 10 + i, float(i))]),
                    root,
                    "scores",
                    order,
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    got = sorted(
        r["height"]
        for r in warehouse.read_table(spark, root, "scores").collect()
    )
    assert got == [0, 101, 102, 103, 201, 202, 203], got


# ---------------------------------------------------------------------------
# Metadata-plane request envelopes (round-12 verdict #2)
# ---------------------------------------------------------------------------
#
# At the 100 TB design point the manifest plane lives on an object store
# where REQUEST RATE is the provisioning bottleneck: 23 tables x 5 s
# cadence means every per-batch op below is multiplied ~4.6/s, and any
# accidental O(live versions) or O(history) loop in the write path
# multiplies straight into the store's request bill. These tests pin the
# measured per-operation envelopes on BOTH backends via OpCountingStorage,
# so a regression that adds a hidden walk fails loudly.


def _meter(monkeypatch):
    m = storage.OpCountingStorage(warehouse.STORAGE)
    monkeypatch.setattr(warehouse, "STORAGE", m)
    return m


def _mk_batch(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"h{i}", 1) for i in range(lo, hi)],
        "height long, hash string, v int",
    )


def test_append_metadata_ops_envelope(spark, tmp_path, monkeypatch, seam_backend):
    """Steady-state idempotent append on a manifest table: exactly one
    conditional PUT, one history LIST, O(retain) history reads, constant
    manifest reads — and NONE of it grows with the number of appends
    (history_age_ref may grow by at most 1 per append: one age check per
    grace-pending entry beyond the retention horizon, bounded in steady
    state by retain + grace x publish-rate — the soak's measured history
    plateau)."""
    meter = _meter(monkeypatch)
    root = str(tmp_path / "wh")
    warehouse.write_insert_if_absent(spark, _mk_batch(spark, 0, 8), root, "messages")
    warehouse.compact(spark, os.path.join(root, "messages"))

    deltas = []
    for k in range(1, 7):
        before = meter.snapshot()
        warehouse.write_insert_if_absent(
            spark, _mk_batch(spark, 8 * k, 8 * k + 8), root, "messages"
        )
        deltas.append(meter.delta(before))

    base = deltas[1]
    assert base["publish"] == 1
    assert base["list_history"] == 1
    assert base["read_current"] <= 8
    assert base["read_history"] <= warehouse.UPSERT_RETAIN_VERSIONS
    for d in deltas[2:]:
        # constant in table size and append count — no hidden walks
        for op in ("publish", "list_history", "read_current", "read_history"):
            assert d[op] == base[op], (op, deltas)
    for prev, cur in zip(deltas[1:], deltas[2:]):
        assert cur["history_age_ref"] - prev["history_age_ref"] <= 1, deltas

    # fully-deduped replay: NO publish, NO list, NO history touch — the
    # footer-emptiness fast path keeps a quiet 5 s cadence nearly free
    before = meter.snapshot()
    warehouse.write_insert_if_absent(
        spark, _mk_batch(spark, 8, 16), root, "messages"
    )
    d = meter.delta(before)
    assert d["publish"] == 0 and d["list_history"] == 0
    assert d["read_history"] == 0 and d["delete_history"] == 0
    assert d["read_current"] <= 6


def test_keep_one_and_health_metadata_ops_envelope(
    spark, tmp_path, monkeypatch, seam_backend
):
    """keep_one upsert: one conditional PUT per batch, constant reads —
    cost tracks the batch (data plane), never manifest history.
    table_health: read-only (1 manifest read + 1 history COUNT, no list,
    no parses) — safe to cron across hundreds of tables."""
    from pyspark.sql import functions as F

    meter = _meter(monkeypatch)
    root = str(tmp_path / "wh")
    order = [F.desc("height")]

    def lc(h):
        return spark.createDataFrame(
            [(1, True, h, h), (2, False, h, h)],
            "topic_id int, is_worker boolean, height long, height_tx long",
        )

    warehouse.write_keep_one(spark, lc(100), root, "last_commit_values", order)
    deltas = []
    for h in (101, 102, 103):
        before = meter.snapshot()
        warehouse.write_keep_one(
            spark, lc(h), root, "last_commit_values", order
        )
        deltas.append(meter.delta(before))
    for d in deltas:
        assert d["publish"] == 1
        assert d["list_history"] == 1
        assert d["read_current"] <= 4
        assert d["read_history"] <= warehouse.UPSERT_RETAIN_VERSIONS

    before = meter.snapshot()
    warehouse.table_health(root)
    d = meter.delta(before)
    assert d["publish"] == 0 and d["list_history"] == 0
    assert d["read_current"] <= 2 and d["count_history"] <= 1
    assert d["read_history"] == 0


def test_fold_metadata_ops_envelope(spark, tmp_path, monkeypatch, seam_backend):
    """fold_appends is O(deltas) on the data plane and O(1) on the
    metadata plane: one LIST + one PUT + O(retain) reads regardless of
    how many delta versions it folds; the nothing-to-fold probe is one
    manifest read and nothing else."""
    meter = _meter(monkeypatch)
    root = str(tmp_path / "wh")
    warehouse.write_insert_if_absent(spark, _mk_batch(spark, 0, 8), root, "messages")
    warehouse.compact(spark, os.path.join(root, "messages"))
    path = os.path.join(root, "messages")

    for k in range(1, 5):
        warehouse.write_insert_if_absent(
            spark, _mk_batch(spark, 8 * k, 8 * k + 8), root, "messages"
        )
    before = meter.snapshot()
    warehouse.fold_appends(spark, path)
    d = meter.delta(before)
    assert d["publish"] == 1 and d["list_history"] == 1
    assert d["read_history"] <= warehouse.UPSERT_RETAIN_VERSIONS

    # nothing to fold: one manifest read, zero history traffic
    before = meter.snapshot()
    warehouse.fold_appends(spark, path)
    d = meter.delta(before)
    assert d["publish"] == 0 and d["list_history"] == 0
    assert d["read_current"] <= 2 and d["read_history"] == 0
