"""Compaction file-layout contract (range_by + recorded-layout fidelity).

The idempotent append writer's anti-join probe is range-pruned on the
table's monotone key (warehouse.existing_keys_in_range): it stays O(batch)
only while parquet min/max stats on that column actually prune. A bare
``repartition(n)`` compact round-robins rows, so every post-compact file
spans the full key range and the probe silently degrades to O(table) —
measured before the fix: 6 contiguous-span appends + one bare compact(4)
left every file spanning 0..5999. These tests pin the three rules that
prevent that:

  1. a bare compact() on a KEYED append table defaults to
     ``range_by=[prune_col]`` — disjoint per-file key spans, recorded in
     the manifest layout;
  2. a bare compact() on a table with a RECORDED layout applies it
     physically (it previously kept the metadata while flattening the
     rows);
  3. the explicit empty list still flattens and clears the layout, and
     auto-folds maintain whatever is recorded.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from allora_indexer_spark.plans import warehouse as W


def _scores_batch(spark, b, rows=500):
    return spark.range(b * rows, (b + 1) * rows).select(
        F.col("id").alias("height"),
        (F.col("id") % 7).cast("long").alias("topic_id"),
        F.concat(F.lit("addr"), F.col("id") % 13).alias("address"),
        F.lit("t").alias("type"),
        (F.rand(7) * 10).alias("value"),
    )


def _file_spans(path, manifest, col="height"):
    spans = []
    for rel in manifest["data"].values():
        d = os.path.join(path, rel)
        for f in glob.glob(d + "/**/*.parquet", recursive=True):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            idx = names.index(col)
            st = [
                md.row_group(rg).column(idx).statistics
                for rg in range(md.num_row_groups)
            ]
            spans.append((min(s.min for s in st), max(s.max for s in st)))
    return sorted(spans)


def _disjoint(spans):
    return all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))


def test_bare_compact_defaults_to_range_clustering(spark, tmp_path):
    root = str(tmp_path)
    for b in range(6):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    path = os.path.join(root, "scores")
    W.compact(spark, path, target_partitions=4)
    m = W._manifest_read(path)
    assert m.get("layout") == {
        "range_by": ["height"],
        "target_partitions": 4,
        "by": "compact",
    }
    spans = _file_spans(path, m)
    assert len(spans) == 4
    assert _disjoint(spans), spans  # whole-FILE pruning on the probe column
    assert W.read_table(spark, root, "scores").count() == 3000


def test_autofold_maintains_range_layout(spark, tmp_path, monkeypatch):
    root = str(tmp_path)
    for b in range(3):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    path = os.path.join(root, "scores")
    W.compact(spark, path, target_partitions=2)
    monkeypatch.setattr(W, "APPEND_MANIFEST_WARN", 3)
    for b in range(3, 10):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    m = W._manifest_read(path)
    assert m.get("layout") == {
        "range_by": ["height"],
        "target_partitions": 2,
        "by": "compact",
    }
    assert len(m["data"]) <= 2 * W.APPEND_MANIFEST_WARN
    assert W.read_table(spark, root, "scores").count() == 10 * 500
    # every fold tier is itself range-clustered: spans within one data
    # entry never overlap (tiers may overlap each other by cadence)
    for rel in m["data"].values():
        entry_m = {"data": {"x": rel}}
        assert _disjoint(_file_spans(path, entry_m))


def test_bare_compact_applies_recorded_cluster_layout(spark, tmp_path):
    root = str(tmp_path)
    for b in range(4):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    path = os.path.join(root, "scores")
    W.compact(spark, path, target_partitions=3, cluster_by=["address"])
    for b in range(4, 6):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    W.compact(spark, path, target_partitions=3)  # argument-less
    m = W._manifest_read(path)
    assert m.get("layout") == {
        "cluster_by": ["address"],
        "target_partitions": 3,
        "by": "compact",
    }
    # physically applied, not just recorded: rows inside every file are
    # sorted by the cluster column
    for rel in m["data"].values():
        for f in glob.glob(os.path.join(path, rel) + "/**/*.parquet", recursive=True):
            col = pq.read_table(f, columns=["address"]).to_pandas()["address"]
            assert (col.sort_values().values == col.values).all()
    assert W.read_table(spark, root, "scores").count() == 3000


def test_explicit_empty_range_by_flattens_and_clears(spark, tmp_path):
    root = str(tmp_path)
    for b in range(4):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    path = os.path.join(root, "scores")
    W.compact(spark, path, target_partitions=2)
    assert "layout" in W._manifest_read(path)
    W.compact(spark, path, target_partitions=2, range_by=[])
    m = W._manifest_read(path)
    assert "layout" not in m
    assert W.read_table(spark, root, "scores").count() == 2000


def test_layout_modes_are_mutually_exclusive(spark, tmp_path):
    with pytest.raises(ValueError):
        W.compact(
            spark, str(tmp_path / "t"), 1,
            cluster_by=["a"], range_by=["b"],
        )
    with pytest.raises(ValueError):
        W.fold_appends(
            spark, str(tmp_path / "t"),
            partition_by=["a"], range_by=["b"],
        )


def test_table_health_reports_probe_pruning_status(spark, tmp_path):
    # probe_pruning is reported for insert-if-absent tables only (a
    # keep-one table has no probe), so these status tests use block_info
    root = str(tmp_path)
    for b in range(3):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "block_info")
    path = os.path.join(root, "block_info")

    def status():
        (h,) = [r for r in W.table_health(root) if r["table"] == "block_info"]
        return h["probe_pruning"]

    # plain append dir: raw contiguous-span deltas only
    assert status() == "natural"
    # deliberately flattened base: probes scan everything — flagged
    W.compact(spark, path, target_partitions=2, range_by=[])
    assert status() == "degraded"
    # one bare compact restores the range_by default
    W.compact(spark, path, target_partitions=2)
    assert status() == "clustered"


def test_fold_explicit_target_partitions_wins_over_layout(spark, tmp_path):
    root = str(tmp_path)
    for b in range(3):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    path = os.path.join(root, "scores")
    W.compact(spark, path, target_partitions=2)  # records range_by, tp=2
    for b in range(3, 6):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    # caller sizes the fold output explicitly; layout still supplies the
    # clustering columns
    assert W.fold_appends(spark, path, target_partitions=3)
    m = W._manifest_read(path)
    tier = [rel for k, rel in m["data"].items() if k.startswith("fold_")]
    assert len(tier) == 1
    files = glob.glob(os.path.join(path, tier[0]) + "/**/*.parquet", recursive=True)
    assert len(files) == 3  # explicit target, not the layout's 2
    assert _disjoint(_file_spans(path, {"data": {"x": tier[0]}}))
    # a fold's one-off sizing is never written back into the record:
    # future auto-folds keep the compact-chosen target_partitions
    assert m.get("layout") == {
        "range_by": ["height"],
        "target_partitions": 2,
        "by": "compact",
    }
    assert W.read_table(spark, root, "scores").count() == 3000


def test_autofold_applies_keyed_default_without_recording(
    spark, tmp_path, monkeypatch
):
    """After a deliberate flatten (range_by=[]), argument-less auto-folds
    still range-cluster the DELTA TIERS they write (the keyed default,
    derived fresh each fold) — but record NO layout, because recording
    one would make table_health claim the still-flat base is clustered.
    The honest status here stays "degraded": the flat base dominates
    probe cost until the next bare compact rewrites it."""
    root = str(tmp_path)
    path = os.path.join(root, "block_info")
    for b in range(2):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "block_info")
    W.compact(spark, path, target_partitions=1, range_by=[])  # flat base
    monkeypatch.setattr(W, "APPEND_MANIFEST_WARN", 3)
    for b in range(2, 9):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "block_info")
    m = W._manifest_read(path)
    assert "layout" not in m  # the default is applied, never recorded
    # every fold tier is physically range-clustered regardless
    for k, rel in m["data"].items():
        if k.startswith("fold_"):
            assert _disjoint(_file_spans(path, {"data": {"x": rel}}))
    (h,) = [r for r in W.table_health(root) if r["table"] == "block_info"]
    assert h["probe_pruning"] == "degraded"  # flat base still dominates
    assert W.read_table(spark, root, "block_info").count() == 9 * 500


def test_fold_created_layout_reports_tiers_only(spark, tmp_path):
    """An operator fold with explicit columns on a record-less table
    creates a layout marked by=fold (no sizing recorded): table_health
    must report 'tiers_only', not 'clustered' — the flat base predates
    the layout and probes still scan it whole."""
    root = str(tmp_path)
    path = os.path.join(root, "block_info")
    for b in range(3):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "block_info")
    W.compact(spark, path, target_partitions=2, range_by=[])  # flat base
    for b in range(3, 6):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "block_info")
    assert W.fold_appends(spark, path, range_by=["height"])
    m = W._manifest_read(path)
    assert m.get("layout") == {"range_by": ["height"], "by": "fold"}
    (h,) = [r for r in W.table_health(root) if r["table"] == "block_info"]
    assert h["probe_pruning"] == "tiers_only"
    # one bare compact rewrites the base under the layout and clears it
    W.compact(spark, path, target_partitions=2)
    (h,) = [r for r in W.table_health(root) if r["table"] == "block_info"]
    assert h["probe_pruning"] == "clustered"
    assert W.read_table(spark, root, "block_info").count() == 3000


def test_bare_maintenance_compact_preserves_recorded_sizing(spark, tmp_path):
    """A fully argument-less maintenance compact() must carry the
    recorded layout's target_partitions, not silently rewrite (and
    re-record) the table to 1 partition — auto-folds inherit the record,
    so the one-shot shrink would become the table's durable sizing."""
    root = str(tmp_path)
    for b in range(4):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    path = os.path.join(root, "scores")
    W.compact(spark, path, target_partitions=4)  # operator sizes at 4
    for b in range(4, 6):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    W.compact(spark, path)  # plain maintenance compact, NO arguments
    m = W._manifest_read(path)
    assert m.get("layout") == {
        "range_by": ["height"],
        "target_partitions": 4,
        "by": "compact",
    }
    files = glob.glob(
        os.path.join(path, m["data"]["all"]) + "/**/*.parquet",
        recursive=True,
    )
    assert len(files) == 4  # recorded sizing applied, not a 1-file rewrite
    assert _disjoint(_file_spans(path, m))
    assert W.read_table(spark, root, "scores").count() == 3000


def test_autofold_hint_creates_no_layout_record(
    spark, tmp_path, monkeypatch
):
    """The auto-fold in _append_data passes the append's own
    partition_by for a layout-less table — a per-fold SHAPING hint.
    Automatic maintenance must not convert that hint into a durable
    {'by': 'fold'} layout record the operator never chose (pre-fix it
    did, which on a keyed table also permanently pre-empted the
    probe-preserving range_by default)."""
    path = str(tmp_path / "store")
    df0 = spark.range(10).select(
        F.col("id"), (F.col("id") % 4).alias("part")
    )
    W.append_dir(df0, path, partition_by=["part"])
    W.compact(spark, path, target_partitions=1)  # convert to manifest
    assert "layout" not in W._manifest_read(path)
    monkeypatch.setattr(W, "APPEND_MANIFEST_WARN", 3)
    for b in range(1, 9):
        df = spark.range(b * 10, (b + 1) * 10).select(
            F.col("id"), (F.col("id") % 4).alias("part")
        )
        W.append_dir(df, path, partition_by=["part"])
    m = W._manifest_read(path)
    # pre-fix: m["layout"] == {"partition_by": ["part"], "by": "fold"}
    assert "layout" not in m
    # the hint still SHAPED the fold tier (hive dirs), it is just not
    # recorded as the table's chosen layout
    fold = [rel for k, rel in m["data"].items() if k.startswith("fold_")]
    assert fold
    assert any(
        d.startswith("part=")
        for d in os.listdir(os.path.join(path, fold[0]))
    )
    assert W.read_dir(spark, path).count() == 90


def test_keyed_default_guards_on_missing_prune_column(spark, tmp_path):
    """A TABLE_KEYS-named table whose files LACK the prune column (a
    store written under that name by other code) must still bare-compact
    as a flat rewrite instead of crashing on an unresolved range
    column."""
    root = str(tmp_path)
    path = os.path.join(root, "scores")
    W.append_dir(
        spark.range(100).selectExpr(
            "id AS other_key", "CAST(id AS DOUBLE) AS value"
        ),
        path,
    )
    W.compact(spark, path, target_partitions=2)  # must not raise
    m = W._manifest_read(path)
    assert m is not None and "layout" not in m
    assert spark.read.parquet(
        os.path.join(path, m["data"]["all"])
    ).count() == 100


def test_escalated_major_keeps_hive_shape_of_recordless_store(
    spark, tmp_path, monkeypatch
):
    """The inline-major escalation on a layout-record-less HIVE store
    (auto-folds no longer create records) must carry the append's
    partition_by through the rewrite — a bare rewrite would flatten
    e.g. a cell-partitioned ANN corpus and silently kill its partition
    pruning. Being a base rewrite, the shape is then honestly recorded
    with by=compact."""
    path = str(tmp_path / "store")
    monkeypatch.setattr(W, "APPEND_MANIFEST_WARN", 2)
    monkeypatch.setattr(W, "AUTO_COMPACT_FACTOR", 2)

    def batch(b):
        return spark.range(b * 10, (b + 1) * 10).select(
            F.col("id"), (F.col("id") % 4).alias("part")
        )

    W.append_dir(batch(0), path, partition_by=["part"])
    W.compact(spark, path, target_partitions=1, partition_cols=["part"])
    # drop the record to model the record-less store the finding names
    m = W._manifest_read(path)
    m2 = dict(m)
    m2.pop("layout", None)
    W._publish_manifest(path, m2, expect=m["version"])
    majors_seen = []
    for b in range(1, 16):
        W.append_dir(batch(b), path, partition_by=["part"])
        mm = W._manifest_read(path)
        majors_seen.append(len(mm["data"]))
    assert any(e == 1 for e in majors_seen), majors_seen  # a major ran
    m = W._manifest_read(path)
    assert m.get("layout", {}).get("partition_by") == ["part"]
    base = [rel for k, rel in m["data"].items() if k == "all"]
    assert base, m["data"]
    assert any(
        d.startswith("part=")
        for d in os.listdir(os.path.join(path, base[0]))
    ), "escalated major flattened the hive store"
    assert W.read_dir(spark, path).count() == 160


def test_compact_with_columns_but_no_sizing_keeps_recorded_sizing(
    spark, tmp_path
):
    """compact(spark, path, cluster_by=[...]) with target_partitions
    omitted must resolve sizing from the recorded layout, not silently
    rewrite (and durably re-record) the table to 1 partition."""
    root = str(tmp_path)
    path = os.path.join(root, "scores")
    for b in range(4):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    W.compact(spark, path, target_partitions=3, cluster_by=["address"])
    W.compact(spark, path, cluster_by=["address"])  # re-cluster, no sizing
    m = W._manifest_read(path)
    assert m.get("layout") == {
        "cluster_by": ["address"],
        "target_partitions": 3,
        "by": "compact",
    }
    files = glob.glob(
        os.path.join(path, m["data"]["all"]) + "/**/*.parquet",
        recursive=True,
    )
    assert len(files) == 3
    assert W.read_table(spark, root, "scores").count() == 2000
