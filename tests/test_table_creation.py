"""Table creation is metadata only: one manifest publish, no Spark job,
and an empty table that every reader, writer and maintenance path
treats as empty."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from allora_indexer_spark.plans import warehouse
from allora_indexer_spark.streaming import stream


def _expected_schemas(spark, root, feed, names):
    """What the sink's builders give over an empty feed frame: the
    schemas precreation must pin."""
    raw_schema, with_height, decode, _, build = stream._SINK_FEEDS[feed]
    empty = with_height(spark.createDataFrame([], schema=raw_schema))
    built = build(spark, root, empty, decode(empty), set(names))
    return {k: df.schema for k, df in built.items()}


def test_precreate_runs_no_spark_job(spark, tmp_path):
    """Precreating both sinks' tables into a fresh warehouse runs 0 Spark
    jobs, writes no `_versions/` dir, and pins each table's schema as
    the builders give it."""
    root = str(tmp_path / "wh")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "precreate-" + uuid.uuid4().hex[:8]
    # jobs submitted from pool threads carry no group, so count the
    # ungrouped ones too
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "precreation")
    try:
        stream.precreate_event_tables(spark, root)
        stream.precreate_block_tables(spark, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(tracker.getJobIdsForGroup(group)) == []
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped_before

    ref_root = str(tmp_path / "ref")
    versions = {}
    for feed, names in (
        ("event", stream.EVENT_SINK_TABLES),
        ("block", stream.BLOCK_SINK_TABLES),
    ):
        expected = _expected_schemas(spark, ref_root, feed, names)
        assert expected
        for name, schema in expected.items():
            path = os.path.join(root, name)
            m = warehouse._manifest_read(path)
            assert m is not None, name
            assert m["data"] == {}, name
            assert warehouse._pinned_schema(m) == schema, name
            assert not os.path.exists(os.path.join(path, "_versions")), name
            versions[name] = m["version"]
    # a second precreation finds every table and publishes nothing
    stream.precreate_event_tables(spark, root)
    stream.precreate_block_tables(spark, root)
    assert versions == {
        n: warehouse._manifest_read(os.path.join(root, n))["version"]
        for n in versions
    }


def _block_rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("height"),
        F.concat(F.lit("h"), F.col("id")).alias("hash"),
    )


def _score_rows(spark, lo, hi, height_tx):
    return spark.range(lo, hi).selectExpr(
        "cast(id as int) as height",
        "cast(id % 3 as int) as topic_id",
        "'inferer' as type",
        "concat('a', id) as address",
        f"cast({height_tx} as long) as height_tx",
        "cast(id as double) as value",
        "cast(id as string) as value_raw",
    )


def _names_types(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_created_table_reads_and_maintains_as_empty(
    spark, tmp_path, monkeypatch
):
    """A table made by create_table behaves as an empty table on every
    reader, on maintenance, and across a snapshot round trip; the first
    insert takes the footer proof, and the first upsert resolves."""
    root = str(tmp_path / "wh")
    name = "block_info"
    path = os.path.join(root, name)
    schema = _block_rows(spark, 0, 0).schema
    warehouse.create_table(path, schema)

    df = warehouse.read_table(spark, root, name)
    assert df.count() == 0
    assert _names_types(df.schema) == _names_types(schema)
    assert warehouse.read_table_version(spark, root, name, 0).count() == 0

    (h,) = [r for r in warehouse.table_health(root) if r["table"] == name]
    assert (h["n_files"], h["manifest_entries"], h["n_versions"]) == (0, 0, 0)
    assert not h["needs_compaction"] and not h["needs_vacuum"]
    report = warehouse.integrity_report(spark, root, [name]).collect()
    assert report and all(r["violations"] == 0 for r in report)

    # maintenance leaves an empty table as it is
    ver0 = warehouse._manifest_read(path)["version"]
    warehouse.compact(spark, path)
    assert warehouse.fold_appends(spark, path) is True
    warehouse.vacuum(path, grace=0.0)
    m = warehouse._manifest_read(path)
    assert m["version"] == ver0 and m["data"] == {}

    # snapshot publish + restore of the empty table
    snaps = str(tmp_path / "snaps")
    warehouse.publish_snapshot(spark, {name: df}, snaps, "s1")
    restored_root = str(tmp_path / "restored")
    assert warehouse.bootstrap_from_snapshot(
        spark, snaps, restored_root
    ) == [name]
    rm = warehouse._manifest_read(os.path.join(restored_root, name))
    assert rm["data"] == {}
    assert warehouse._version_paths(os.path.join(restored_root, name)) == []
    assert warehouse.read_table(spark, restored_root, name).count() == 0

    # the first insert is proven absent from footers: no probe
    probes = []
    real_probe = warehouse.existing_keys_in_range

    def counting_probe(*a, **k):
        probes.append(1)
        return real_probe(*a, **k)

    monkeypatch.setattr(warehouse, "existing_keys_in_range", counting_probe)
    warehouse.write_insert_if_absent(
        spark, _block_rows(spark, 10, 20), root, name, key_span=(10, 19)
    )
    assert probes == []
    assert warehouse.read_table(spark, root, name).count() == 10
    diff = warehouse.diff_table_versions(spark, root, name, old=1, new=0)
    assert {r["change_type"] for r in diff.collect()} == {"added"}
    assert diff.count() == 10

    # the first upsert into an empty keep-one table resolves on read
    scores = os.path.join(root, "scores")
    warehouse.create_table(scores, _score_rows(spark, 0, 0, 0).schema)
    order = warehouse._order_cols(warehouse.TABLE_SPECS["scores"].keep_one)
    warehouse.write_keep_one(
        spark, _score_rows(spark, 0, 6, 1), root, "scores", order
    )
    warehouse.write_keep_one(
        spark, _score_rows(spark, 0, 6, 2), root, "scores", order
    )
    got = warehouse.read_table(spark, root, "scores")
    assert got.count() == 6
    assert {r["height_tx"] for r in got.collect()} == {2}
