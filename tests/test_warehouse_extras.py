"""Consensus-params source (S7) and snapshot bootstrap (S8)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from allora_indexer_spark.plans import ingest, warehouse
from allora_indexer_spark.schemas import TABLE_SPECS
from allora_indexer_spark.sources.fixtures import write_consensus_params, write_fixtures


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("wh_fixtures")
    write_fixtures(str(d))
    write_consensus_params(str(d))
    return str(d)


def test_consensus_params(spark, fixture_dir):
    cp = ingest.read_consensus_params(
        spark, f"{fixture_dir}/consensus_params"
    ).collect()
    assert len(cp) == 1
    row = cp[0]
    assert row["max_bytes"] == "22020096"
    assert row["max_gas"] == "-1"
    assert row["max_age_duration"] == "172800s"
    assert row["evidence_max_bytes"] == "1048576"
    assert row["pub_key_types"] == "ed25519"


def test_snapshot_bootstrap(spark, fixture_dir, tmp_path):
    blocks = ingest.read_blocks(spark, f"{fixture_dir}/blocks")
    results = ingest.read_block_results(spark, f"{fixture_dir}/block_results")
    tables = ingest.build_tables(blocks, results)
    # a representative cross-section (parent + child + upsert + event
    # scalar tables) exercises the full S8 contract — publish, pointer
    # flip, restore, idempotent re-bootstrap, replay absorption — which
    # is table-agnostic; writing all 23 tables tripled the runtime for
    # no extra coverage (round 17, driver pytest budget)
    tables = {
        k: tables[k]
        for k in (
            "block_info", "messages", "scores", "last_commit_values",
            "topics", "forecast_values",
        )
    }

    snapshot = str(tmp_path / "snapshot")
    warehouse.write_tables(spark, tables, snapshot)

    # bootstrap a fresh warehouse from the snapshot
    wh = str(tmp_path / "wh")
    restored = warehouse.bootstrap_from_snapshot(spark, snapshot, wh)
    assert "block_info" in restored and "messages" in restored
    for name in tables:
        assert warehouse.read_table(spark, wh, name).count() == tables[name].count()

    # re-bootstrap is a no-op (restart safety), and ingest on top stays
    # idempotent — the restored warehouse absorbs a full replay
    assert warehouse.bootstrap_from_snapshot(spark, snapshot, wh) == []
    warehouse.write_tables(spark, tables, wh)
    for name in ("block_info", "messages", "scores", "last_commit_values"):
        assert warehouse.read_table(spark, wh, name).count() == tables[name].count()


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    """Many tiny appends → compact() → few LIVE files, identical data.
    The live file set is whatever `_CURRENT` references (read via
    read_table, the API carrying that contract — a root listing is not
    the read path), and the root holds no parquet."""
    import os

    from allora_indexer_spark.plans import warehouse

    root = str(tmp_path)
    path = str(tmp_path / "tiny")
    for i in range(10):  # simulate 10 micro-batch appends
        warehouse.append_dir(
            spark.range(i * 10, (i + 1) * 10).repartition(4), path
        )
    n_files_before = len(warehouse._table_data_files(path))
    assert n_files_before >= 30
    warehouse.compact(spark, path, target_partitions=2)
    assert os.path.isfile(os.path.join(path, "_CURRENT"))
    assert not any(f.endswith(".parquet") for f in os.listdir(path))
    m = warehouse._manifest_read(path)
    n_files_after = sum(
        1
        for d in warehouse._data_dirs(path, m)
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )
    assert n_files_after <= 2
    total = (
        warehouse.read_table(spark, root, "tiny")
        .agg(F.sum("id"))
        .collect()[0][0]
    )
    assert total == sum(range(100))


def test_schema_evolution_append(spark, tmp_path):
    """evolve_append: a new column appears with nulls for history; a batch
    missing a known column is padded — the addColumn/isColumnExist analog
    with zero table rewrites."""
    from allora_indexer_spark.plans import warehouse

    root = str(tmp_path)
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id LONG, name STRING")
    warehouse.evolve_append(spark, v1, root, "topics_v")
    # widened batch: new is_active column
    v2 = spark.createDataFrame(
        [(3, "c", True)], "id LONG, name STRING, is_active BOOLEAN"
    )
    warehouse.evolve_append(spark, v2, root, "topics_v")
    got = warehouse.read_table(spark, root, "topics_v")
    assert set(got.columns) == {"id", "name", "is_active"}
    vals = {r["id"]: r["is_active"] for r in got.collect()}
    assert vals == {1: None, 2: None, 3: True}
    # narrower batch: is_active padded with typed null
    v3 = spark.createDataFrame([(4, "d")], "id LONG, name STRING")
    warehouse.evolve_append(spark, v3, root, "topics_v")
    got = warehouse.read_table(spark, root, "topics_v")
    assert got.count() == 4
    assert got.filter("id = 4").collect()[0]["is_active"] is None


def test_table_ddl_round_trips_all_tables(spark, tmp_path, fixture_dir):
    """table_ddl output must be executable Spark DDL whose resulting table
    schema equals the ingest builder's output schema for every table."""
    tables = ingest.build_tables(
        ingest.read_blocks(spark, f"{fixture_dir}/blocks"),
        ingest.read_block_results(spark, f"{fixture_dir}/block_results"),
    )
    # 24 DataFrames = 12 tx-side + 12 event-side; the reference's "23
    # tables" counts its TB_* constants, which collapse one of these
    assert len(tables) == 24
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS ddl_rt LOCATION '{tmp_path}/ddl_rt'"
    )
    try:
        for name, df in tables.items():
            ddl = warehouse.table_ddl(f"ddl_rt.{name}", df.schema)
            spark.sql(ddl)
            created = spark.table(f"ddl_rt.{name}").schema
            assert [(f.name, f.dataType) for f in created.fields] == [
                (f.name, f.dataType) for f in df.schema.fields
            ], f"{name}: DDL round-trip schema mismatch"
    finally:
        spark.sql("DROP DATABASE IF EXISTS ddl_rt CASCADE")


# ---------------------------------------------------------------------------
# K1 insert-if-absent: bounded dedup probe
# ---------------------------------------------------------------------------


def _mk_blocks(spark, heights):
    return spark.createDataFrame(
        [(h, f"hash{h}") for h in heights], "height long, block_hash string"
    )


def test_insert_if_absent_still_idempotent(spark, tmp_path):
    root = str(tmp_path / "wh")
    first = _mk_blocks(spark, range(100))
    warehouse.write_insert_if_absent(spark, first, root, "block_info")
    # overlap [50, 150): only the 50 novel heights may land
    second = _mk_blocks(spark, range(50, 150))
    warehouse.write_insert_if_absent(spark, second, root, "block_info")
    got = warehouse.read_table(spark, root, "block_info")
    assert got.count() == 150
    assert got.select("height").distinct().count() == 150


def test_insert_if_absent_probe_is_range_pruned(spark, tmp_path):
    """The dedup probe must scan only the batch's height span — at a real
    table size the un-pruned (worse: broadcast) probe is the scale killer
    the round-2 review flagged."""
    root = str(tmp_path / "wh")
    warehouse.write_insert_if_absent(
        spark, _mk_blocks(spark, range(1000)), root, "block_info"
    )
    batch = _mk_blocks(spark, range(990, 1010))
    probe = warehouse.existing_keys_in_range(spark, batch, root, "block_info")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # the between() filter reaches the parquet scan…
    assert "PushedFilters" in plan and "GreaterThanOrEqual(height,990" in plan
    # …and only the in-range existing keys come back
    assert probe.count() == 10
    warehouse.write_insert_if_absent(spark, batch, root, "block_info")
    assert warehouse.read_table(spark, root, "block_info").count() == 1010


def test_enum_readback_validation(spark, tmp_path):
    """ENUM expectation (db.go:340-350): a foreign reputer_value_type tag on
    read-back is quarantined, legal tags (incl. the 6th one the reference's
    inserts use beyond its own DDL, db.go:1628-1646) pass."""
    root = str(tmp_path / "wh")
    df = spark.createDataFrame(
        [
            (101, 1, 0, "InfererValues", 0, "w1", "1.5"),
            (101, 1, 0, "OneOutInfererForecasterValues", 1, "w9", "[{}]"),
            (101, 1, 0, "TotallyBogusTag", 2, "w2", "2.5"),
            (101, 1, 0, None, 3, "w3", "3.5"),
        ],
        "message_height int, message_id long, bundle_idx int,"
        " reputer_value_type string, value_idx int, worker string, value string",
    )
    warehouse.write_insert_if_absent(spark, df, root, "bundle_values")
    good, bad = warehouse.read_table_checked(spark, root, "bundle_values")
    assert good.count() == 3  # legal tags + NULL pass
    violations = bad.collect()
    assert len(violations) == 1
    assert violations[0]["reputer_value_type"] == "TotallyBogusTag"
    # tables without declared domains validate trivially
    warehouse.write_insert_if_absent(
        spark,
        spark.createDataFrame([(1, "h")], "height long, block_hash string"),
        root,
        "block_info",
    )
    g2, b2 = warehouse.read_table_checked(spark, root, "block_info")
    assert g2.count() == 1 and b2.count() == 0


# ---------------------------------------------------------------------------
# K5/K6 keep-one upsert: O(batch) merge-on-read append + atomic version flip
# ---------------------------------------------------------------------------


def _mk_scores(spark, rows):
    # value_raw mirrors the real scores schema — it is now part of
    # the scores spec's keep-one order tiebreak, so synthetic frames carry it
    df = spark.createDataFrame(
        rows,
        "height int, topic_id int, type string, address string,"
        " height_tx long, value double",
    )
    return df.withColumn("value_raw", F.col("value").cast("string"))


def _score_order():
    return warehouse._order_cols(TABLE_SPECS["scores"].keep_one)


def _entry_files(path, m):
    """data entry -> (manifest-relative dir, sorted parquet file list) of
    manifest ``m`` — the ledger the carry-by-reference contract is
    checked against."""
    import os

    return {
        k: (rel, sorted(warehouse.data_files_under(os.path.join(path, rel))))
        for k, rel in m["data"].items()
    }


def _assert_no_symlinks(root):
    import os

    for dirpath, dirnames, filenames in os.walk(root):
        for n in dirnames + filenames:
            assert not os.path.islink(
                os.path.join(dirpath, n)
            ), f"symlink at {os.path.join(dirpath, n)}"


def test_keep_one_upsert_writes_only_the_batch(spark, tmp_path):
    """Upsert cost must track BATCH size, not table size. A 500-key batch
    (half updates, half new keys) lands in a 20,000-row table: the new
    version's files hold at most the batch's 500 rows (parquet footers),
    every earlier data entry is carried into the new manifest unchanged,
    the latest height_tx wins on read, and a replay of the same batch
    leaves the table's rows as they were. The batch's keys spread over
    all 32 values of pmod(xxhash64(key), 32), so a layout that rewrites
    per key-hash bucket rewrites the whole table here."""
    import os

    root = str(tmp_path / "wh")
    keys = ["height", "topic_id", "type", "address"]
    base = spark.range(20_000).selectExpr(
        "cast(id as int) as height",
        "cast(id % 10 as int) as topic_id",
        "'inferer' as type",
        "concat('a', id % 50) as address",
        "id as height_tx",
        "cast(id as double) as value",
        "cast(id as string) as value_raw",
    )
    warehouse.write_keep_one(spark, base, root, "scores", _score_order())
    path = os.path.join(root, "scores")
    _assert_no_symlinks(path)
    m_before = warehouse._manifest_read(path)
    before = _entry_files(path, m_before)

    # 250 updates of existing keys (ids 0, 80, ..., 19920) at a newer
    # height_tx, and 250 keys the table does not hold yet
    batch = spark.range(500).selectExpr(
        "cast(if(id < 250, id * 80, 20000 + id) as int) as height",
        "cast(if(id < 250, id * 80, 20000 + id) % 10 as int) as topic_id",
        "'inferer' as type",
        "concat('a', if(id < 250, id * 80, 20000 + id) % 50) as address",
        "10000000 + id as height_tx",
        "cast(-id as double) as value",
        "cast(-id as string) as value_raw",
    )
    spread = batch.select(
        F.pmod(F.xxhash64(*keys), F.lit(32)).alias("h")
    ).distinct().count()
    assert spread == 32
    warehouse.write_keep_one(spark, batch, root, "scores", _score_order())
    m_after = warehouse._manifest_read(path)
    assert m_after["version"] != m_before["version"]

    new_verdir = os.path.join(path, "_versions", m_after["version"])
    assert warehouse._footer_row_count(new_verdir) <= 500
    after = _entry_files(path, m_after)
    for k, entry in before.items():
        assert after.get(k) == entry, f"data entry {k} was not carried"

    t = warehouse.read_table(spark, root, "scores")
    assert t.count() == 20_250
    updated = t.filter("height = 80 AND address = 'a30'").collect()
    assert len(updated) == 1
    assert updated[0]["height_tx"] == 10_000_001
    assert updated[0]["value"] == -1.0
    rows = sorted(t.collect())

    warehouse.write_keep_one(spark, batch, root, "scores", _score_order())
    again = warehouse.read_table(spark, root, "scores")
    assert again.count() == 20_250
    assert sorted(again.collect()) == rows


def test_version_swap_is_atomic_for_concurrent_readers(spark, tmp_path):
    """r3 verdict #6: a reader racing compact()/write_keep_one() must never
    see a missing or half-swapped table. The old rename-away/rmtree dance
    had a hole between the two renames; the symlink flip plus grace-period
    GC closes it."""
    import threading

    root = str(tmp_path / "wh")
    path = str(tmp_path / "wh" / "scores")
    base = spark.range(5_000).selectExpr(
        "cast(id as int) as height",
        "cast(id % 5 as int) as topic_id",
        "'inferer' as type",
        "concat('a', id % 20) as address",
        "id as height_tx",
        "cast(id as double) as value",
        "cast(id as string) as value_raw",
    )
    warehouse.write_keep_one(spark, base, root, "scores", _score_order())

    stop = threading.Event()
    errors: list[Exception] = []

    def reader():
        # read_table is the read API carrying the atomicity contract: it
        # pins the version by resolving the symlink at plan time
        while not stop.is_set():
            try:
                n = warehouse.read_table(spark, root, "scores").count()
                assert n == 5_000, f"reader saw {n} rows"
            except Exception as e:  # noqa: BLE001 — the assertion IS the test
                errors.append(e)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(3):
            batch = _mk_scores(
                spark, [(i, i, "inferer", f"a{i}", 1_000_000 + i, 7.0)]
            )
            warehouse.write_keep_one(spark, batch, root, "scores", _score_order())
        warehouse.compact(spark, path, target_partitions=1)
    finally:
        stop.set()
        t.join()
    assert not errors, f"concurrent reader failed: {errors[:1]}"
    assert warehouse.read_table(spark, root, "scores").count() == 5_000


def test_version_gc_deletes_expired_and_keeps_live(spark, tmp_path, monkeypatch):
    """Version dirs must actually go away once past the grace period —
    otherwise a year of 5 s micro-batches is a directory leak — while the
    current and immediately-previous versions always survive."""
    import os

    root = str(tmp_path / "wh")
    base = _mk_scores(
        spark, [(1, 1, "inferer", "x", 10, 1.0), (2, 2, "inferer", "y", 20, 2.0)]
    )
    warehouse.write_keep_one(spark, base, root, "scores", _score_order())
    for i in range(3):
        batch = _mk_scores(spark, [(1, 1, "inferer", "x", 100 + i, 5.0)])
        warehouse.write_keep_one(spark, batch, root, "scores", _score_order())
    path = os.path.join(root, "scores")
    assert len(warehouse._version_paths(path)) == 4  # every upsert is live
    # a compaction supersedes them; the grace period holds them
    warehouse.compact(spark, path)
    assert len(warehouse._version_paths(path)) == 5

    # age everything out and trigger one more write: only the dirs of the
    # current and previous manifests survive, and the data is intact
    monkeypatch.setattr(warehouse, "_GC_GRACE_SEC", 0.0)
    warehouse.write_keep_one(
        spark,
        _mk_scores(spark, [(2, 2, "inferer", "y", 999, 9.0)]),
        root,
        "scores",
        _score_order(),
    )
    remaining = warehouse._version_paths(path)
    assert len(remaining) == 2  # the compacted base and the last upsert
    t = warehouse.read_table(spark, root, "scores")
    got = {(r["height"], r["height_tx"]) for r in t.collect()}
    assert got == {(1, 102), (2, 999)}


def test_time_travel_read_and_version_diff(spark, tmp_path, monkeypatch):
    """Retained version dirs are full consistent snapshots: an older one
    reads back exactly as the table stood then, and diff_table_versions
    reports added/changed (and, direction-flipped, removed) keys."""
    import os

    monkeypatch.setattr(warehouse, "UPSERT_RETAIN_VERSIONS", 4)
    root = str(tmp_path / "wh")
    base = _mk_scores(
        spark,
        [(1, 1, "inferer", "x", 10, 1.0), (2, 2, "inferer", "y", 20, 2.0)],
    )
    warehouse.write_keep_one(spark, base, root, "scores", _score_order())
    # update key (1,1,inferer,x), add key (3,3,inferer,z)
    batch = _mk_scores(
        spark, [(1, 1, "inferer", "x", 100, 5.0), (3, 3, "inferer", "z", 30, 3.0)]
    )
    warehouse.write_keep_one(spark, batch, root, "scores", _score_order())

    path = os.path.join(root, "scores")
    versions = warehouse.list_versions(path)
    assert len(versions) == 2
    # newest version == current read
    assert warehouse.read_table_version(spark, root, "scores", 0).count() == 3
    # time travel: the previous snapshot still shows the pre-batch state
    old = warehouse.read_table_version(spark, root, "scores", 1)
    got = {(r["height"], r["height_tx"], r["value"]) for r in old.collect()}
    assert got == {(1, 10, 1.0), (2, 20, 2.0)}

    d = warehouse.diff_table_versions(spark, root, "scores", old=1, new=0)
    changes = {(r["height"], r["change_type"]) for r in d.collect()}
    assert changes == {(1, "changed"), (3, "added")}
    # flipping the direction turns the add into a remove
    d2 = warehouse.diff_table_versions(spark, root, "scores", old=0, new=1)
    changes2 = {(r["height"], r["change_type"]) for r in d2.collect()}
    assert changes2 == {(1, "changed"), (3, "removed")}
    # a self-diff: zero rows, schema intact
    d3 = warehouse.diff_table_versions(spark, root, "scores", old=0, new=0)
    assert d3.count() == 0
    assert "change_type" in d3.columns


def test_version_retention_bounds_time_travel_horizon(
    spark, tmp_path, monkeypatch
):
    """UPSERT_RETAIN_VERSIONS is the horizon: with retain=3 and an aged-out
    grace period, exactly the 3 newest snapshots survive a write's GC."""
    import os

    monkeypatch.setattr(warehouse, "UPSERT_RETAIN_VERSIONS", 3)
    monkeypatch.setattr(warehouse, "_GC_GRACE_SEC", 0.0)
    root = str(tmp_path / "wh")
    warehouse.write_keep_one(
        spark,
        _mk_scores(spark, [(1, 1, "inferer", "x", 10, 1.0)]),
        root,
        "scores",
        _score_order(),
    )
    for i in range(4):
        warehouse.write_keep_one(
            spark,
            _mk_scores(spark, [(1, 1, "inferer", "x", 20 + i, 2.0 + i)]),
            root,
            "scores",
            _score_order(),
        )
    versions = warehouse.list_versions(os.path.join(root, "scores"))
    assert len(versions) == 3
    # every retained snapshot is independently readable
    for idx in range(3):
        assert (
            warehouse.read_table_version(spark, root, "scores", idx).count()
            == 1
        )


@pytest.fixture(scope="module")
def ingest_tables(spark, fixture_dir):
    from allora_indexer_spark.plans import ingest

    blocks = ingest.read_blocks(spark, f"{fixture_dir}/blocks")
    results = ingest.read_block_results(spark, f"{fixture_dir}/block_results")
    return ingest.build_tables(blocks, results)


@pytest.mark.soak
def test_integrity_report_flags_injected_violations(
    spark, tmp_path, ingest_tables
):
    """The constraint audit must read all-zero on a freshly-written fixture
    warehouse, then flag exactly the injected duplicate key and FK orphan."""
    import os

    from pyspark.sql import functions as F

    root = str(tmp_path / "wh")
    warehouse.write_tables(spark, ingest_tables, root)

    base = warehouse.integrity_report(spark, root)
    bad = base.filter(F.col("violations") > 0).collect()
    assert bad == [], f"fresh warehouse not clean: {bad}"

    # corrupt 1: duplicate block_info natural key (a raw append bypassing
    # the K1 writer's anti-join)
    one = warehouse.read_table(spark, root, "block_info").limit(1)
    warehouse.append_dir(one, os.path.join(root, "block_info"))
    # corrupt 2: an inferences row pointing at a message that doesn't exist
    # (cast to the table's OWN column types: appending a wider type would
    # make parquet schema inference file-order-dependent)
    inf = warehouse.read_table(spark, root, "inferences")
    types = dict(inf.dtypes)
    orphan = (
        inf.limit(1)
        .withColumn(
            "message_height", F.lit(999_999).cast(types["message_height"])
        )
        .withColumn(
            "message_id", F.lit(999_999_000_000).cast(types["message_id"])
        )
    )
    warehouse.append_dir(orphan, os.path.join(root, "inferences"))

    report = {
        (r["table"], r["check"]): r["violations"]
        for r in warehouse.integrity_report(spark, root).collect()
    }
    assert report[("block_info", "key_unique")] == 1
    assert report[("inferences", "fk_orphans:messages")] == 1
    # nothing else regressed
    flagged = {k for k, v in report.items() if v > 0}
    assert flagged == {
        ("block_info", "key_unique"),
        ("inferences", "fk_orphans:messages"),
    }


def test_table_health_reports_files_and_versions(spark, tmp_path):
    root = str(tmp_path / "wh")
    warehouse.write_insert_if_absent(
        spark,
        _mk_scores(spark, [(1, 1, "inferer", "x", 10, 1.0)]),
        root,
        "scores",
    )
    warehouse.write_keep_one(
        spark,
        _mk_scores(spark, [(2, 2, "inferer", "y", 20, 2.0)]),
        root,
        "rewards",
        _score_order(),
    )
    health = {h["table"]: h for h in warehouse.table_health(root)}
    assert health["scores"]["n_files"] >= 1
    assert health["scores"]["total_bytes"] > 0
    assert health["rewards"]["n_versions"] >= 1  # versioned upsert layout
    assert health["rewards"]["mean_file_bytes"] > 0


def test_needs_vacuum_flags_orphan_dirs_until_vacuum(
    spark, tmp_path, monkeypatch
):
    """Publish-time GC never touches a version dir no manifest names, so
    crash orphans pile up until vacuum() runs: table_health raises
    needs_vacuum once they pass HISTORY_VACUUM_WARN, and vacuum() clears
    it without touching the table's rows."""
    import os
    import time

    monkeypatch.setattr(warehouse, "HISTORY_VACUUM_WARN", 3)
    root = str(tmp_path / "wh")
    path = os.path.join(root, "block_info")
    warehouse.write_insert_if_absent(
        spark, _mk_blocks(spark, [1, 2]), root, "block_info"
    )

    def needs_vacuum() -> bool:
        health = {h["table"]: h for h in warehouse.table_health(root)}
        return health["block_info"]["needs_vacuum"]

    assert not needs_vacuum()
    old = time.time() - 3600
    for i in range(warehouse.HISTORY_VACUUM_WARN + 1):
        d = os.path.join(path, warehouse._VERSIONS_DIR, f"v_orphan{i}")
        os.makedirs(d)
        os.utime(d, (old, old))
    assert needs_vacuum()
    warehouse.vacuum(path)
    assert not needs_vacuum()
    assert len(warehouse._version_paths(path)) == 1
    assert warehouse.read_table(spark, root, "block_info").count() == 2


# ---------------------------------------------------------------------------
# Merge-on-read over compacted tables, the bucket-layout refusal, and the
# append-manifest compaction-cadence contract
# ---------------------------------------------------------------------------


def test_upsert_over_a_compacted_table_keeps_latest(spark, tmp_path):
    """compact() on an append-created table publishes the {"all": ...}
    manifest; an upsert after that appends its batch beside the base,
    the read keeps the latest row per key, and the next compact leaves
    exactly one row per key on disk."""
    import os

    root = str(tmp_path / "wh")
    os.makedirs(root)
    path = os.path.join(root, "scores")
    base = _mk_scores(
        spark,
        [(1, 1, "inferer", "x", 10, 1.0), (2, 2, "inferer", "y", 20, 2.0)],
    )
    warehouse.append_dir(base, path)
    warehouse.compact(spark, path, target_partitions=1)
    base_entry = warehouse._manifest_read(path)["data"]["all"]

    batch = _mk_scores(spark, [(1, 1, "inferer", "x", 99, 9.0)])
    warehouse.write_keep_one(spark, batch, root, "scores", _score_order())
    m = warehouse._manifest_read(path)
    assert m["data"]["all"] == base_entry and len(m["data"]) == 2
    want = [(1, 99, 9.0), (2, 20, 2.0)]

    def got(df):
        return sorted((r["height"], r["height_tx"], r["value"]) for r in df.collect())

    assert got(warehouse.read_table(spark, root, "scores")) == want
    assert warehouse.read_dir(spark, path).count() == 3  # raw, unresolved
    warehouse.compact(spark, path)
    assert got(warehouse.read_dir(spark, path)) == want


def test_bucketed_layout_table_is_refused(spark, tmp_path):
    """A table whose manifest still carries ``buckets`` (the key-hash
    bucket layout of earlier releases) is refused by reads, upserts and
    compaction with an error that names the fix, and a refused upsert
    leaves no version dir behind."""
    import os

    root = str(tmp_path / "wh")
    path = os.path.join(root, "scores")
    warehouse.write_keep_one(
        spark, _mk_scores(spark, [(1, 1, "inferer", "x", 10, 1.0)]), root,
        "scores", _score_order(),
    )
    m = warehouse._manifest_read(path)
    warehouse._publish_manifest(
        path, dict(m, buckets=32, version="vbucketed"), expect=m["version"]
    )
    n_dirs = len(warehouse._version_paths(path))
    with pytest.raises(warehouse.BucketedLayoutError, match="Re-ingest"):
        warehouse.read_table(spark, root, "scores")
    with pytest.raises(warehouse.BucketedLayoutError, match="Re-ingest"):
        warehouse.read_table_version(spark, root, "scores", 0)
    with pytest.raises(warehouse.BucketedLayoutError, match="Re-ingest"):
        warehouse.compact(spark, path)
    with pytest.raises(warehouse.BucketedLayoutError, match="Re-ingest"):
        warehouse.write_keep_one(
            spark, _mk_scores(spark, [(2, 2, "inferer", "y", 20, 2.0)]),
            root, "scores", _score_order(),
        )
    assert len(warehouse._version_paths(path)) == n_dirs


def test_keep_one_table_health_flags_and_clears_compaction(
    spark, tmp_path, monkeypatch
):
    """A keep-one table is an append table on disk: past
    APPEND_MANIFEST_WARN upserts the writer folds them, dropping the
    superseded rows, so table_health never flags needs_compaction (it
    has no insert probe, so probe_pruning is None), and compact()
    leaves one row per key on disk."""
    import os
    import warnings as _warnings

    monkeypatch.setattr(warehouse, "APPEND_MANIFEST_WARN", 3)
    root = str(tmp_path / "wh")
    path = os.path.join(root, "scores")

    def health():
        return {h["table"]: h for h in warehouse.table_health(root)}["scores"]

    with _warnings.catch_warnings():
        _warnings.simplefilter("error", RuntimeWarning)
        for i in range(4):
            warehouse.write_keep_one(
                spark,
                _mk_scores(spark, [(1, 1, "inferer", "x", 10 + i, 1.0)]),
                root, "scores", _score_order(),
            )
    h = health()
    assert not h["needs_compaction"] and h["manifest_entries"] == 1
    assert h["probe_pruning"] is None
    rows = warehouse.read_dir(spark, path).collect()
    assert [r["height_tx"] for r in rows] == [13]  # the fold resolved
    warehouse.compact(spark, path)
    h = health()
    assert not h["needs_compaction"] and h["manifest_entries"] == 1
    rows = warehouse.read_dir(spark, path).collect()
    assert [r["height_tx"] for r in rows] == [13]


def test_append_manifest_growth_warns_and_flags(spark, tmp_path, monkeypatch):
    """The manifest-growth contract on APPEND tables: each micro-batch
    adds one manifest entry, and up to APPEND_MANIFEST_WARN entries the
    writer leaves them and table_health does not flag
    needs_compaction."""
    import os

    monkeypatch.setattr(warehouse, "APPEND_MANIFEST_WARN", 4)
    root = str(tmp_path / "wh")
    path = os.path.join(root, "block_info")
    warehouse.write_insert_if_absent(
        spark, _mk_blocks(spark, range(10)), root, "block_info"
    )
    warehouse.compact(spark, path, target_partitions=1)
    for lo in (10, 15, 40):  # entries: 2, 3, 4 — at the bound, untouched
        warehouse.write_insert_if_absent(
            spark, _mk_blocks(spark, range(lo, lo + 5)), root, "block_info"
        )
    health = {h["table"]: h for h in warehouse.table_health(root)}
    assert not health["block_info"]["needs_compaction"]
    assert health["block_info"]["manifest_entries"] == 4
    # incremental fold: the three delta versions collapse into one new
    # entry while the base "all" entry is carried by reference — its
    # manifest path unchanged, nothing under it rewritten
    base_entry = warehouse._manifest_read(path)["data"]["all"]
    assert warehouse.fold_appends(spark, path)
    m = warehouse._manifest_read(path)
    assert m["data"]["all"] == base_entry
    assert len(m["data"]) == 2
    health = {h["table"]: h for h in warehouse.table_health(root)}
    assert not health["block_info"]["needs_compaction"]
    assert warehouse.read_table(spark, root, "block_info").count() == 25
    # idempotent: nothing left to fold
    assert warehouse.fold_appends(spark, path)
    assert len(warehouse._manifest_read(path)["data"]) == 2


def test_writer_keeps_manifest_within_bound(spark, tmp_path, monkeypatch):
    """The writer's one maintenance rule, with no operator in the loop:
    after EVERY append the manifest holds at most APPEND_MANIFEST_WARN
    entries (folds, then a whole-table compaction once the fold tiers
    fill the bound), nothing warns, and rows and keys come out exact —
    also after a replay of already-stored heights."""
    import os
    import warnings as _warnings

    monkeypatch.setattr(warehouse, "APPEND_MANIFEST_WARN", 4)
    root = str(tmp_path / "wh")
    path = os.path.join(root, "block_info")
    entries = []
    with _warnings.catch_warnings():
        _warnings.simplefilter("error", RuntimeWarning)
        for b in range(40):
            warehouse.write_insert_if_absent(
                spark, _mk_blocks(spark, range(3 * b, 3 * b + 3)), root,
                "block_info",
            )
            entries.append(len(warehouse._manifest_read(path)["data"]))
        # replay: heights already stored publish nothing new
        warehouse.write_insert_if_absent(
            spark, _mk_blocks(spark, range(30, 60)), root, "block_info"
        )
    assert max(entries) <= warehouse.APPEND_MANIFEST_WARN, entries
    assert 1 in entries[5:], entries  # a whole-table compaction ran
    out = warehouse.read_table(spark, root, "block_info")
    got = sorted((r["height"], r["block_hash"]) for r in out.collect())
    assert got == [(h, f"hash{h}") for h in range(120)]


def test_keep_one_refuses_batch_without_key_or_order_columns(spark, tmp_path):
    """A keep-one batch must carry the spec's key and keep_one columns:
    reads resolve one row per key by them, so a batch without them
    (height but no height_tx into last_commit_values) would read back
    every upsert of a key. Refused before anything is written."""
    import os

    from pyspark.sql import functions as F

    root = str(tmp_path / "wh")
    batch = spark.createDataFrame(
        [(1, True, 100), (2, False, 100)],
        "topic_id int, is_worker boolean, height long",
    )
    with pytest.raises(ValueError, match="height_tx"):
        warehouse.write_keep_one(
            spark, batch, root, "last_commit_values", [F.desc("height")]
        )
    assert not os.path.exists(os.path.join(root, "last_commit_values"))


def test_manifest_schema_pin_fills_missing_columns(spark, tmp_path):
    """Manifests pin the table's logical schema: a data dir carried from
    an older, NARROWER version reads back with typed nulls for newer
    columns instead of schema inference silently dropping them (the
    read-side schema-evolution gap on upsert tables)."""
    import json as _json
    import os

    from pyspark.sql.types import StructType

    root = str(tmp_path / "wh")
    warehouse.write_keep_one(
        spark,
        _mk_scores(spark, [(1, 1, "inferer", "x", 10, 1.0)]),
        root,
        "scores",
        _score_order(),
    )
    path = os.path.join(root, "scores")
    m = warehouse._manifest_read(path)
    assert "schema" in m  # published by the writer
    sch = StructType.fromJson(_json.loads(m["schema"]))
    widened = dict(m)
    widened["schema"] = sch.add("confidence", "double").json()
    rows = warehouse._read_manifest_data(spark, path, widened).collect()
    assert rows and all(r["confidence"] is None for r in rows)
    assert rows[0]["value"] == 1.0


def test_snapshot_latest_pointer_round_trip(spark, tmp_path):
    """S8 latest-pointer indirection (process_s3.go:90-111): a snapshots
    root holds named snapshot dirs plus a `latest` file; publishing flips
    the pointer atomically and bootstrap resolves it — restoring the NEW
    snapshot after a re-publish, and plain snapshot dirs keep working."""
    import os

    snaps = str(tmp_path / "snaps")
    t1 = {"block_info": _mk_blocks(spark, range(5))}
    warehouse.publish_snapshot(spark, t1, snaps, "snap-001")
    t2 = {"block_info": _mk_blocks(spark, range(9))}
    warehouse.publish_snapshot(spark, t2, snaps, "snap-002")
    with open(os.path.join(snaps, "latest")) as fh:
        assert fh.read() == "snap-002"

    wh1 = str(tmp_path / "wh1")
    assert warehouse.bootstrap_from_snapshot(spark, snaps, wh1) == [
        "block_info"
    ]
    assert warehouse.read_table(spark, wh1, "block_info").count() == 9

    # a plain snapshot dir (no pointer) still restores as before
    wh2 = str(tmp_path / "wh2")
    warehouse.bootstrap_from_snapshot(
        spark, os.path.join(snaps, "snap-001"), wh2
    )
    assert warehouse.read_table(spark, wh2, "block_info").count() == 5

    # a dangling pointer refuses loudly instead of restoring nothing
    with open(os.path.join(snaps, "latest"), "w") as fh:
        fh.write("snap-gone")
    with pytest.raises(FileNotFoundError):
        warehouse.bootstrap_from_snapshot(
            spark, snaps, str(tmp_path / "wh3")
        )


# ---------------------------------------------------------------------------
# Writer serialization (the `_CURRENT` CAS)
# ---------------------------------------------------------------------------


def test_concurrent_writers_serialize_and_lose_nothing(spark, tmp_path):
    """Two upserts with DISJOINT key sets racing on the same table: the
    publishes must serialize — without the CAS publish (on POSIX: the
    flock micro-lock around the pointer swap, plus the writer's retry),
    whichever `_CURRENT` flip lands second drops the other's data entry
    and its rows vanish."""
    import threading

    root = str(tmp_path / "wh")
    warehouse.write_keep_one(
        spark,
        _mk_scores(spark, [(1, 1, "inferer", "x", 10, 1.0)]),
        root,
        "scores",
        _score_order(),
    )
    errors: list[Exception] = []

    def upsert(lo):
        try:
            batch = _mk_scores(
                spark,
                [
                    (lo + i, lo + i, "inferer", f"c{lo + i}", 1000 + i, 2.0)
                    for i in range(20)
                ],
            )
            warehouse.write_keep_one(
                spark, batch, root, "scores", _score_order()
            )
        except Exception as e:  # noqa: BLE001 — surfaced via the assert
            errors.append(e)

    threads = [
        threading.Thread(target=upsert, args=(lo,)) for lo in (1000, 2000)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, f"concurrent writer failed: {errors[:1]}"
    got = warehouse.read_table(spark, root, "scores")
    assert got.filter("height >= 1000").count() == 40, (
        "a concurrent writer's rows were clobbered by the racing flip"
    )
    assert got.count() == 41


def test_vacuum_reclaims_without_a_write(spark, tmp_path, monkeypatch):
    """A table that stops receiving writes keeps its superseded versions
    until vacuum() runs — which reclaims them under the same retention
    rules as the per-write GC, without publishing anything."""
    import os

    root = str(tmp_path / "wh")
    for i in range(4):
        warehouse.write_keep_one(
            spark,
            _mk_scores(spark, [(1, 1, "inferer", "x", 10 + i, 1.0 + i)]),
            root,
            "scores",
            _score_order(),
        )
    path = os.path.join(root, "scores")
    assert len(warehouse._version_paths(path)) == 4
    # two compactions supersede the upserts' dirs and then the first
    # compaction's; the grace window keeps them all past both publishes
    warehouse.compact(spark, path)
    warehouse.compact(spark, path)
    assert len(warehouse._version_paths(path)) == 6
    before = warehouse._manifest_read(path)
    monkeypatch.setattr(warehouse, "_GC_GRACE_SEC", 0.0)
    warehouse.vacuum(path)
    assert len(warehouse._version_paths(path)) == 2  # current + previous
    # vacuum publishes nothing: the live manifest is byte-identical
    assert warehouse._manifest_read(path) == before
    assert warehouse.read_table(spark, root, "scores").collect()[0][
        "height_tx"
    ] == 13
    # retain=1: only the current snapshot survives
    warehouse.vacuum(path, retain=1)
    assert len(warehouse._version_paths(path)) == 1
    assert warehouse.read_table(spark, root, "scores").count() == 1


def test_fold_appends_uses_pinned_schema_for_hive_deltas(spark, tmp_path):
    """fold_appends on a table created with partition_by must read the
    delta dirs under the manifest's PINNED schema: hive-partitioned
    deltas whose partition values look numeric would otherwise be
    retyped by per-root inference ('04' -> int 4) in the rewritten fold
    files — after which the pinned string-schema read errors or
    corrupts values."""
    import os

    path = str(tmp_path / "sigstore")
    base = spark.createDataFrame(
        [(1, "04"), (2, "10")], "id long, p string"
    )
    warehouse.append_dir(base, path, partition_by=["p"])  # records it
    warehouse.compact(spark, path, target_partitions=1)
    m = warehouse._manifest_read(path)
    assert m is not None and "schema" in m

    # two hive-partitioned delta appends: all-digit partition values
    for lo in (10, 20):
        delta = spark.createDataFrame(
            [(lo, "04"), (lo + 1, "07")], "id long, p string"
        )
        warehouse.append_dir(delta, path, partition_by=["p"])
    assert len(warehouse._manifest_read(path)["data"]) == 3

    assert warehouse.fold_appends(spark, path)
    m2 = warehouse._manifest_read(path)
    assert len(m2["data"]) == 2  # base "all" + one fold tier
    out = warehouse.read_dir(spark, path)
    assert dict(out.dtypes)["p"] == "string"
    got = sorted((r["id"], r["p"]) for r in out.collect())
    assert got == [
        (1, "04"), (2, "10"), (10, "04"), (11, "07"),
        (20, "04"), (21, "07"),
    ], f"partition values corrupted by fold: {got}"
    # the fold OUTPUT's hive dirs must carry the zero-padded spelling
    fold_rel = next(v for k, v in m2["data"].items() if k.startswith("fold_"))
    dirs = sorted(
        d for d in os.listdir(os.path.join(path, fold_rel))
        if d.startswith("p=")
    )
    assert dirs == ["p=04", "p=07"], dirs


def test_resolve_snapshot_root_rejects_empty_pointer(tmp_path):
    """An empty `latest` pointer is a corrupt publish, not 'no pointer':
    silently resolving to the snapshots root would make bootstrap read
    sibling snapshot dirs as tables (reference errors on an empty
    latest_backup.txt, process_s3.go getLatestFileKey)."""
    import os

    root = str(tmp_path / "snaps")
    os.makedirs(root)
    with open(os.path.join(root, "latest"), "w") as fh:
        fh.write("  \n")
    with pytest.raises(ValueError, match="empty"):
        warehouse.resolve_snapshot_root(root)
    # no pointer file at all still resolves to itself (plain dir shape)
    os.remove(os.path.join(root, "latest"))
    assert warehouse.resolve_snapshot_root(root) == root


def _lcv_df(spark, n=3, start=0):
    return spark.range(start, start + n).selectExpr(
        "cast(id as int) as topic_id",
        "id % 2 = 0 as is_worker",
        "cast(id + 100 as int) as height_tx",
        "cast(id + 100 as int) as height",
    )


def test_read_table_version_works_on_seam_backend(
    spark, tmp_path, seam_backend
):
    """Time travel must treat the version id as the storage seam's OPAQUE
    history entry id — an os.path.isfile pre-check wrongly rejected every
    live version on the in-memory conditional-PUT backend."""
    root = str(tmp_path / "wh")
    name = "last_commit_values"
    order = [F.desc("height_tx"), F.desc("height")]
    warehouse.write_keep_one(spark, _lcv_df(spark, 2), root, name, order)
    warehouse.write_keep_one(
        spark, _lcv_df(spark, 2, start=2), root, name, order
    )
    path = warehouse._table_path(root, name)
    versions = warehouse.list_versions(path)
    assert len(versions) >= 2
    newest = warehouse.read_table_version(spark, root, name, 0)
    assert newest.count() == 4
    older = warehouse.read_table_version(spark, root, name, 1)
    assert older.count() == 2
    with pytest.raises(FileNotFoundError):
        warehouse.read_table_version(
            spark, root, name, versions[0][0] + "_gone"
        )


def test_create_table_atomic_and_layout(spark, tmp_path):
    """create_table: one publish carries schema + layout + extra keys and
    no data dir; a second create is a no-op; the recorded layout is the
    one every fold and compact of the store applies."""
    import os

    path = str(tmp_path / "store")
    empty = spark.range(0).selectExpr(
        "cast(id as string) as bucket", "id as doc_id"
    )
    layout = {"cluster_by": ["bucket"], "target_partitions": 1}
    warehouse.create_table(
        path, empty.schema, layout=layout, extra={"app_marker": 7}
    )
    m = warehouse._manifest_read(path)
    assert m is not None and m["layout"] == layout
    assert m["app_marker"] == 7
    assert m["data"] == {}
    ver0 = m["version"]
    warehouse.create_table(path, empty.schema, layout=layout)
    assert warehouse._manifest_read(path)["version"] == ver0  # no-op
    assert warehouse.read_dir(spark, path).count() == 0
