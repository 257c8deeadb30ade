"""CAS publish seam, lock-free concurrent writers (threads and
processes), lost-race cleanup, and the auto-maintenance fold.

The reference serializes writers through Postgres row locks + ON CONFLICT
(/root/reference/db.go:1118-1185). This engine's parquet manifest layout
gets the same contract from one mechanism, with no writer mutex:
`_publish_manifest(expect=...)` refuses a flip when `_CURRENT` moved
(ManifestConflictError) and the public writers retry the whole
read-merge-publish cycle — the optimistic-concurrency loop an object
store runs with conditional PUTs, and on POSIX the same loop over a
flock micro-lock around the pointer swap.

These tests pin it: lost updates must be impossible, and a publish that
loses its race must leave no unreferenced version dir behind.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import threading
import time

import pytest

from allora_indexer_spark.plans import warehouse
from allora_indexer_spark.schemas import TABLE_SPECS


def _mk_scores(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows,
        "height int, topic_id int, type string, address string,"
        " height_tx long, value double",
    )
    # value_raw mirrors the real scores schema (keep-one order tiebreak)
    return df.withColumn("value_raw", F.col("value").cast("string"))


def _score_order():
    return warehouse._order_cols(TABLE_SPECS["scores"].keep_one)


# ---------------------------------------------------------------------------
# CAS primitive
# ---------------------------------------------------------------------------


def test_publish_manifest_cas_rejects_stale_expect(tmp_path, seam_backend):
    """Two writers merge against v0; the first flip wins, the second must
    raise ManifestConflictError instead of silently dropping the winner's
    pointers (the lost-update window). Runs against BOTH storage
    backends: POSIX flock micro-lock and in-memory conditional PUT."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    warehouse._publish_manifest(path, {"version": "v0", "data": {}})
    # writer A, based on v0: wins
    warehouse._publish_manifest(
        path, {"version": "vA", "data": {"a": "x"}}, expect="v0"
    )
    # writer B, also based on v0: must lose loudly
    with pytest.raises(warehouse.ManifestConflictError, match="vA"):
        warehouse._publish_manifest(
            path, {"version": "vB", "data": {"b": "y"}}, expect="v0"
        )
    assert warehouse._manifest_read(path)["version"] == "vA"
    # expect=None asserts "no manifest yet" — conflicts once one exists
    with pytest.raises(warehouse.ManifestConflictError):
        warehouse._publish_manifest(
            path, {"version": "vC", "data": {}}, expect=None
        )
    # fresh-table publish with expect=None succeeds where none exists
    p2 = str(tmp_path / "t2")
    os.makedirs(p2)
    warehouse._publish_manifest(p2, {"version": "v0", "data": {}}, expect=None)
    assert warehouse._manifest_read(p2)["version"] == "v0"


def test_retry_cas_reruns_cycle_until_publish_lands(tmp_path, seam_backend):
    """_retry_cas re-runs the read-merge-publish closure against the
    freshly flipped manifest — the writer's merge must converge, not
    error, when a concurrent publish wins a round. Both backends."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    warehouse._publish_manifest(path, {"version": "v0", "data": {}})
    calls = {"n": 0}

    def cycle():
        calls["n"] += 1
        m = warehouse._manifest_read(path)
        if calls["n"] == 1:  # a rival flips _CURRENT mid-cycle, once
            warehouse._publish_manifest(
                path,
                {"version": "rival", "data": {"r": "x"}},
                expect=m["version"],
            )
        data = dict(m["data"])
        data["mine"] = "y"
        warehouse._publish_manifest(
            path,
            {"version": f"mine{calls['n']}", "data": data},
            expect=m["version"],
        )

    warehouse._retry_cas(cycle)
    assert calls["n"] == 2  # first round conflicted, second converged
    final = warehouse._manifest_read(path)
    assert final["data"] == {"r": "x", "mine": "y"}  # both updates kept


# ---------------------------------------------------------------------------
# Lock-free writers: no lost update end-to-end (verdict r7 item 3)
# ---------------------------------------------------------------------------


def test_lockfree_concurrent_upserts_no_lost_update(spark, tmp_path, monkeypatch):
    """Two writers upsert disjoint key sets concurrently; every row from
    both must survive — the CAS publish is the only thing preventing the
    second `_CURRENT` flip from wholesale-dropping the first writer's
    data entries."""
    root = str(tmp_path / "wh")
    errors: list[Exception] = []

    def writer(wid: int) -> None:
        try:
            for i in range(4):
                h = 100 * wid + i + 1
                warehouse.write_keep_one(
                    spark,
                    _mk_scores(
                        spark, [(h, wid, "inferer", f"w{wid}", 10 + i, float(i))]
                    ),
                    root,
                    "scores",
                    _score_order(),
                )
        except Exception as e:  # pragma: no cover - surfaced below
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
    assert got == list(range(101, 105)) + list(range(201, 205)), got


def test_lockfree_concurrent_inserts_stay_idempotent(spark, tmp_path, monkeypatch):
    """write_insert_if_absent: two writers land OVERLAPPING key ranges
    concurrently. The CAS forces the loser to
    redo its existence probe against the winner's manifest, so the
    union lands exactly once — no lost rows AND no duplicate keys."""
    root = str(tmp_path / "wh")

    from pyspark.sql import functions as F

    def blocks(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("height"),
            F.concat(F.lit("hash"), F.col("id")).alias("block_hash"),
        )

    warehouse.write_insert_if_absent(spark, blocks(0, 10), root, "block_info")

    errors: list[Exception] = []

    def writer(lo: int, hi: int) -> None:
        try:
            warehouse.write_insert_if_absent(
                spark, blocks(lo, hi), root, "block_info"
            )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    # overlapping spans: [5, 30) and [20, 45)
    threads = [
        threading.Thread(target=writer, args=(5, 30)),
        threading.Thread(target=writer, args=(20, 45)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    out = warehouse.read_table(spark, root, "block_info")
    assert out.count() == 45
    assert out.select("height").distinct().count() == 45


def _blocks(spark, lo, hi):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.col("id").alias("height"),
        F.concat(F.lit("hash"), F.col("id")).alias("block_hash"),
    )


def test_table_creation_is_a_cas(spark, tmp_path, monkeypatch):
    """Two writers create the same missing table lock-free: the rival's
    first publish lands inside the first writer's creation window
    (injected deterministically through the in-memory backend). The
    table's first manifest is a CAS against "no manifest", so the loser
    redoes its probe against the winner's table — both batches' keys land
    exactly once, and the parent chain holds both versions."""
    from allora_indexer_spark.plans import storage

    st = storage.InMemoryManifestStorage()
    monkeypatch.setattr(warehouse, "STORAGE", st)
    root = str(tmp_path / "wh")
    path = os.path.join(root, "block_info")

    def rival():
        warehouse.write_insert_if_absent(
            spark, _blocks(spark, 4, 10), root, "block_info"
        )

    st.interleave = rival
    warehouse.write_insert_if_absent(
        spark, _blocks(spark, 0, 6), root, "block_info"
    )
    heights = sorted(
        r["height"]
        for r in warehouse.read_table(spark, root, "block_info").collect()
    )
    assert heights == list(range(10)), heights
    rival_m, mine = st.history(path)
    assert rival_m["parent"] is None
    assert mine["parent"] == rival_m["version"]
    assert warehouse._manifest_read(path)["version"] == mine["version"]


def test_cas_retry_outlasts_a_run_of_lost_races(spark, tmp_path, monkeypatch):
    """A writer whose first 12 publishes each lose to a rival
    still lands: the backoff between attempts grows exponentially and the
    writer keeps retrying until a deadline, not for a fixed attempt
    count (8 attempts with ~0.85 s of sleep in total gave up here)."""
    from allora_indexer_spark.plans import storage

    st = storage.InMemoryManifestStorage()
    monkeypatch.setattr(warehouse, "STORAGE", st)
    root = str(tmp_path / "wh")
    path = os.path.join(root, "scores")
    warehouse.write_keep_one(
        spark, _mk_scores(spark, [(1, 1, "inferer", "a", 10, 1.0)]),
        root, "scores", _score_order(),
    )
    rivals: list[str] = []

    def rival():
        cur = st.read_current(path)
        rivals.append(f"rival{len(rivals)}")
        st.publish(
            path,
            dict(cur, version=rivals[-1]),
            expect=cur["version"],
        )
        if len(rivals) < 12:
            st.interleave = rival  # re-arm: the next attempt loses too

    # record the writer's backoff instead of sleeping it; other threads
    # (Spark's py4j machinery) keep the real sleep
    delays: list[float] = []
    writer, real_sleep = threading.current_thread(), time.sleep

    def sleep(sec: float) -> None:
        if threading.current_thread() is writer:
            delays.append(sec)
        else:
            real_sleep(sec)

    st.interleave = rival
    with monkeypatch.context() as mp:
        mp.setattr(time, "sleep", sleep)
        warehouse.write_keep_one(
            spark, _mk_scores(spark, [(2, 1, "inferer", "b", 11, 2.0)]),
            root, "scores", _score_order(),
        )

    assert len(rivals) == 12 and len(delays) == 12
    heights = sorted(
        r["height"]
        for r in warehouse.read_table(spark, root, "scores").collect()
    )
    assert heights == [1, 2]
    assert st.history(path)[-1]["parent"] == rivals[-1]
    # exponential: each pause is at least the previous one until the
    # cap, and the run ends far above where it started
    uncapped = [d for d in delays if d < warehouse._CAS_BACKOFF_MAX_SEC / 2]
    assert all(a <= b for a, b in zip(uncapped, uncapped[1:])), delays
    assert delays[-1] > 20 * delays[0], delays
    assert sum(delays) < warehouse._CAS_DEADLINE_SEC


# ---------------------------------------------------------------------------
# Cross-PROCESS exclusion (verdict r7 item 4)
# ---------------------------------------------------------------------------


def _cas_rmw_worker(path: str, wid: int, n_iters: int) -> None:
    """Read-modify-write cycles — the exact shape of every public
    writer's cycle, minus Spark — with no mutex at all: only the
    conditional publish + retry keeps them serializable."""
    from allora_indexer_spark.plans import warehouse as wh

    for i in range(n_iters):

        def attempt():
            m = wh._manifest_read(path)
            data = dict(m["data"])
            data[f"w{wid}_{i}"] = f"_versions/w{wid}_{i}"
            time.sleep(0.002)
            wh._publish_manifest(
                path,
                dict(m, version=f"vw{wid}_{i}", data=data),
                expect=m["version"],
            )

        wh._retry_cas(attempt)


@pytest.mark.parametrize("worker", [_cas_rmw_worker], ids=["cas"])
def test_two_processes_no_lost_update(tmp_path, worker):
    """TWO OS PROCESSES hammer one table's manifest with read-modify-write
    cycles; every update from both must survive and the manifest history
    must stay well-formed. Pins the cross-process claim the thread-based
    tests cannot: the CAS retry loop with no exclusion at all, across
    processes."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    warehouse._publish_manifest(path, {"version": "v0", "data": {}})
    n = 20
    ctx = multiprocessing.get_context("spawn")
    procs = [
        ctx.Process(target=worker, args=(path, wid, n)) for wid in (1, 2)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
        assert p.exitcode == 0
    m = warehouse._manifest_read(path)
    expected = {f"w{wid}_{i}" for wid in (1, 2) for i in range(n)}
    assert set(m["data"]) == expected, (
        f"lost updates: {sorted(expected - set(m['data']))[:5]}..."
    )
    # manifest history well-formed: every file parses, _CURRENT matches
    mdir = os.path.join(path, "_manifests")
    for f in os.listdir(mdir):
        with open(os.path.join(mdir, f)) as fh:
            json.load(fh)
    assert os.path.isfile(os.path.join(path, "_CURRENT"))


# ---------------------------------------------------------------------------
# A lost publish removes its own version dir
# ---------------------------------------------------------------------------


def _unnamed_version_dirs(path: str) -> list[str]:
    """Version dirs no manifest in the table's history names: publish-time
    GC treats them as in flight and leaves them to vacuum()."""
    named = {
        rel.split(os.sep)[1]
        for mf, _ in warehouse.list_versions(path)
        for rel in warehouse._load_manifest_file(mf)["data"].values()
    }
    vroot = os.path.join(path, warehouse._VERSIONS_DIR)
    return sorted(set(os.listdir(vroot)) - named)


def test_lost_keep_one_publish_removes_its_version_dir(
    spark, tmp_path, monkeypatch
):
    """A rival upsert lands inside write_keep_one's publish: the loser
    re-points its append at the winner's manifest and lands, and no
    version dir is left that no manifest names — nothing but vacuum()
    would ever reclaim it."""
    from allora_indexer_spark.plans import storage

    st = storage.InMemoryManifestStorage()
    monkeypatch.setattr(warehouse, "STORAGE", st)
    root = str(tmp_path / "wh")

    def upsert(h: int) -> None:
        warehouse.write_keep_one(
            spark, _mk_scores(spark, [(h, 1, "inferer", "a", h, 1.0)]),
            root, "scores", _score_order(),
        )

    upsert(1)
    st.interleave = lambda: upsert(2)
    upsert(3)
    heights = sorted(
        r["height"]
        for r in warehouse.read_table(spark, root, "scores").collect()
    )
    assert heights == [1, 2, 3]
    assert _unnamed_version_dirs(os.path.join(root, "scores")) == []


def test_lost_fold_publish_removes_its_version_dir(
    spark, tmp_path, monkeypatch
):
    """A rival append lands inside fold_appends' publish: the fold redoes
    itself over the rival's manifest, no row is lost, and the lost
    attempt's fold output is gone."""
    from allora_indexer_spark.plans import storage

    st = storage.InMemoryManifestStorage()
    monkeypatch.setattr(warehouse, "STORAGE", st)
    path = str(tmp_path / "store")

    def append(i: int) -> None:
        warehouse.append_dir(spark.createDataFrame([(i,)], "id long"), path)

    for i in range(3):
        append(i)
    st.interleave = lambda: append(9)
    assert warehouse.fold_appends(spark, path)
    got = sorted(r["id"] for r in warehouse.read_dir(spark, path).collect())
    assert got == [0, 1, 2, 9]
    assert _unnamed_version_dirs(path) == []


# ---------------------------------------------------------------------------
# Auto-maintenance on the append path (verdict r7 item 5)
# ---------------------------------------------------------------------------


def test_auto_fold_keeps_append_manifest_bounded(spark, tmp_path, monkeypatch):
    """Default behavior: when an append pushes the manifest past
    APPEND_MANIFEST_WARN entries, the SAME write folds the deltas
    (O(deltas), base carried by reference), and compacts the whole table
    once the fold tiers fill the bound — batch tables cannot silently
    degrade when nobody schedules compact(), and nothing warns. Both
    rewrites honor the store's recorded cluster_by layout."""
    monkeypatch.setattr(warehouse, "APPEND_MANIFEST_WARN", 3)
    path = str(tmp_path / "store")
    layout = {"cluster_by": ["bucket"], "target_partitions": 1}
    warehouse.create_table(
        path, spark.createDataFrame([], "id long, bucket string").schema,
        layout=layout,
    )
    base = spark.createDataFrame(
        [(1, "04"), (2, "0a")], "id long, bucket string"
    )
    warehouse.append_dir(base, path)

    import warnings as _warnings

    import pyarrow.parquet as pq

    def append(i):
        delta = spark.createDataFrame(
            [(i, "04"), (i + 1, "0a")], "id long, bucket string"
        )
        warehouse.append_dir(delta, path)

    folded = compacted = False
    with _warnings.catch_warnings():
        _warnings.simplefilter("error", RuntimeWarning)  # no warn path
        for i in range(10, 28, 2):  # nine appends
            append(i)
            m = warehouse._manifest_read(path)
            assert len(m["data"]) <= warehouse.APPEND_MANIFEST_WARN, (
                f"manifest grew unbounded: {sorted(m['data'])}"
            )
            folded |= any(k.startswith("fold_") for k in m["data"])
            compacted |= list(m["data"]) == ["all"]
    assert folded and compacted
    # layout survived the folds and the major, and the rewrites are
    # clustered
    m = warehouse._manifest_read(path)
    assert m["layout"] == layout
    for rel in m["data"].values():
        for dp, _, fs in os.walk(os.path.join(path, rel)):
            for f in fs:
                if f.endswith(".parquet"):
                    col = pq.read_table(
                        os.path.join(dp, f), columns=["bucket"]
                    ).column("bucket").to_pylist()
                    assert col == sorted(col)
    out = warehouse.read_dir(spark, path)
    assert dict(out.dtypes)["bucket"] == "string"
    assert out.count() == 20
    assert out.select("id").distinct().count() == 20
    health = {h["table"]: h for h in warehouse.table_health(str(tmp_path))}
    assert not health["store"]["needs_compaction"]
