"""Maintenance file-layout contract (range_by default + recorded layout).

The idempotent append writer's anti-join probe is range-pruned on the
table's monotone key (warehouse.existing_keys_in_range): it stays O(batch)
only while parquet min/max stats on that column actually prune. A bare
``repartition(n)`` compact round-robins rows, so every post-compact file
spans the full key range and the probe silently degrades to O(table) —
measured before the fix: 6 contiguous-span appends + one bare compact(4)
left every file spanning 0..5999. These tests pin the rules that
prevent that, all kept by one rewrite (warehouse._rewrite) under one
layout (warehouse._layout):

  1. a compact or fold of a KEYED append table with no recorded layout
     range-clusters on the prune column — disjoint per-file key spans —
     and records nothing but the sizing compact() is given;
  2. a table's layout is recorded only at creation, and every rewrite
     applies it physically;
  3. the writer's own folds and majors keep that layout and sizing.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
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
    assert m.get("layout") == {"target_partitions": 4}  # sizing only
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
    assert m.get("layout") == {"target_partitions": 2}
    assert len(m["data"]) <= W.APPEND_MANIFEST_WARN
    assert W.read_table(spark, root, "scores").count() == 10 * 500
    # every fold tier is itself range-clustered: spans within one data
    # entry never overlap (tiers may overlap each other by cadence)
    for rel in m["data"].values():
        entry_m = {"data": {"x": rel}}
        assert _disjoint(_file_spans(path, entry_m))


def _seed_cluster_layout(spark, path, layout):
    """Create ``path`` empty with a recorded layout, as the near-dup
    stores are created."""
    W.create_table(path, _scores_batch(spark, 0).schema, layout=layout)


def test_bare_compact_applies_recorded_cluster_layout(spark, tmp_path):
    root = str(tmp_path)
    path = os.path.join(root, "scores")
    _seed_cluster_layout(
        spark, path, {"cluster_by": ["address"], "target_partitions": 3}
    )
    for b in range(6):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    W.compact(spark, path)  # argument-less
    m = W._manifest_read(path)
    assert m.get("layout") == {"cluster_by": ["address"], "target_partitions": 3}
    # physically applied, not just recorded: rows inside every file are
    # sorted by the cluster column
    for rel in m["data"].values():
        for f in glob.glob(os.path.join(path, rel) + "/**/*.parquet", recursive=True):
            col = pq.read_table(f, columns=["address"]).to_pandas()["address"]
            assert (col.sort_values().values == col.values).all()
    assert W.read_table(spark, root, "scores").count() == 3000


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
    # a compacted base under the range_by default
    W.compact(spark, path, target_partitions=2)
    assert status() == "clustered"
    # a base laid out by a recorded layout that misses the prune
    # column: probes scan everything — flagged
    other = os.path.join(str(tmp_path / "other"), "block_info")
    _seed_cluster_layout(spark, other, {"cluster_by": ["address"]})
    W.write_insert_if_absent(
        spark, _scores_batch(spark, 0), str(tmp_path / "other"), "block_info"
    )
    W.compact(spark, other)
    (h,) = W.table_health(str(tmp_path / "other"))
    assert h["probe_pruning"] == "degraded"


def test_autofold_applies_keyed_default_without_recording(
    spark, tmp_path, monkeypatch
):
    """The writer's folds on a layout-less KEYED table range-cluster the
    tiers they write (the keyed default, derived fresh each rewrite)
    but record NO layout: only a table's creation records one."""
    root = str(tmp_path)
    path = os.path.join(root, "block_info")
    monkeypatch.setattr(W, "APPEND_MANIFEST_WARN", 3)
    folds = 0
    for b in range(9):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "block_info")
        m = W._manifest_read(path)
        folds += any(k.startswith("fold_") for k in m["data"])
    assert folds
    assert "layout" not in m  # the default is applied, never recorded
    # every fold tier is physically range-clustered
    for k, rel in m["data"].items():
        if k.startswith("fold_"):
            assert _disjoint(_file_spans(path, {"data": {"x": rel}}))
    (h,) = [r for r in W.table_health(root) if r["table"] == "block_info"]
    assert h["probe_pruning"] in ("natural", "clustered")
    assert W.read_table(spark, root, "block_info").count() == 9 * 500


def test_bare_maintenance_compact_preserves_recorded_sizing(spark, tmp_path):
    """A fully argument-less maintenance compact() must carry the
    recorded target_partitions, not silently rewrite (and re-record)
    the table to 1 partition — the writer's majors inherit the record,
    so a one-shot shrink would become the table's durable sizing."""
    root = str(tmp_path)
    for b in range(4):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    path = os.path.join(root, "scores")
    W.compact(spark, path, target_partitions=4)  # operator sizes at 4
    for b in range(4, 6):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    W.compact(spark, path)  # plain maintenance compact, NO arguments
    m = W._manifest_read(path)
    assert m.get("layout") == {"target_partitions": 4}
    files = glob.glob(
        os.path.join(path, m["data"]["all"]) + "/**/*.parquet",
        recursive=True,
    )
    assert len(files) == 4  # recorded sizing applied, not a 1-file rewrite
    assert _disjoint(_file_spans(path, m))
    assert W.read_table(spark, root, "scores").count() == 3000


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
    assert m is not None and m["layout"] == {"target_partitions": 2}
    assert spark.read.parquet(
        os.path.join(path, m["data"]["all"])
    ).count() == 100


def test_escalated_major_keeps_hive_shape_of_recordless_store(
    spark, tmp_path, monkeypatch
):
    """A HIVE store (a cell-partitioned ANN corpus) records its
    ``partition_by`` on its first append, so the writer's folds AND its
    majors keep the partition directories — a flat rewrite would
    silently kill its partition pruning — with no partition hint passed
    to the maintenance."""
    path = str(tmp_path / "store")
    monkeypatch.setattr(W, "APPEND_MANIFEST_WARN", 2)

    def batch(b):
        return spark.range(b * 10, (b + 1) * 10).select(
            F.col("id"), (F.col("id") % 4).alias("part")
        )

    W.append_dir(batch(0), path, partition_by=["part"])
    assert W._manifest_read(path)["layout"] == {"partition_by": ["part"]}
    folds, majors = 0, 0
    for b in range(1, 16):
        W.append_dir(batch(b), path, partition_by=["part"])
        data = W._manifest_read(path)["data"]
        folds += any(k.startswith("fold_") for k in data)
        majors += list(data) == ["all"]
        assert len(data) <= W.APPEND_MANIFEST_WARN
        for rel in data.values():
            assert all(
                d.startswith(("part=", "_", "."))
                for d in os.listdir(os.path.join(path, rel))
            ), "a rewrite flattened the hive store"
    assert folds and majors, (folds, majors)
    m = W._manifest_read(path)
    assert m["layout"] == {"partition_by": ["part"]}
    assert W.read_dir(spark, path).count() == 160


def test_compact_with_columns_but_no_sizing_keeps_recorded_sizing(
    spark, tmp_path
):
    """compact(target_partitions=) records sizing beside the columns a
    table's creation recorded, and a later compact with sizing omitted
    resolves it from the record — it must not silently rewrite (and
    durably re-record) the table to 1 partition."""
    root = str(tmp_path)
    path = os.path.join(root, "scores")
    _seed_cluster_layout(spark, path, {"cluster_by": ["address"]})
    for b in range(4):
        W.write_insert_if_absent(spark, _scores_batch(spark, b), root, "scores")
    W.compact(spark, path, target_partitions=3)
    W.compact(spark, path)  # no sizing
    m = W._manifest_read(path)
    assert m.get("layout") == {"cluster_by": ["address"], "target_partitions": 3}
    files = glob.glob(
        os.path.join(path, m["data"]["all"]) + "/**/*.parquet",
        recursive=True,
    )
    assert len(files) == 3
    assert W.read_table(spark, root, "scores").count() == 2000
