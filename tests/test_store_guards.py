"""Durability guards on the streaming stores (round-12 advisor findings):

1. The rollup ledger carries an on-disk content_key encoding version —
   a store written under a different (or unknown) encoding fails loudly
   instead of silently double-counting replayed partials.
2. compact() carries app-level manifest keys (n_total/last_batch/
   content_key_encoding) forward — an out-of-band compact must not reset
   a store's state plane.
3. The heavy-hitter reset guard records EMPTY in-window batches too, and
   treats a replayed batch 0 with no recorded fingerprint on a non-empty
   store as a suspected checkpoint reset.
4. A table's first write refuses a path that already holds plain
   parquet data instead of publishing a manifest over it.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from pyspark.sql import functions as F

from allora_indexer_spark.plans import warehouse
from allora_indexer_spark.plans.warehouse import _manifest_read
from allora_indexer_spark.streaming import stream

FEED_SCHEMA = "event_id LONG, ts TIMESTAMP, value DOUBLE"


def _mk_feed(spark, lo, hi):
    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    return spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=i), float(i) / 4) for i in range(lo, hi)],
        FEED_SCHEMA,
    )


def _run_rollup(spark, feed, rollup, ckpt):
    q = stream.start_continuous_rollup(spark, feed, FEED_SCHEMA, rollup, ckpt)
    q.awaitTermination(120)


def test_rollup_ledger_stamped_with_encoding_version(spark, tmp_path):
    """A freshly-seeded ledger manifest carries the current encoding
    marker, and it survives appends (later batches) and a full compact."""
    feed = str(tmp_path / "feed")
    rollup = str(tmp_path / "rollup")
    ledger = rollup + "_keys"
    _mk_feed(spark, 0, 20).write.mode("append").parquet(feed)
    _run_rollup(spark, feed, rollup, str(tmp_path / "ckpt"))
    m = _manifest_read(ledger)
    assert m is not None
    assert m["content_key_encoding"] == stream.CONTENT_KEY_ENCODING

    # marker survives subsequent batches (manifest appends)...
    _mk_feed(spark, 20, 45).write.mode("append").parquet(feed)
    _run_rollup(spark, feed, rollup, str(tmp_path / "ckpt"))
    m2 = _manifest_read(ledger)
    assert m2["content_key_encoding"] == stream.CONTENT_KEY_ENCODING
    # ...and a full out-of-band compact (carry-forward in _compact_once)
    warehouse.compact(spark, ledger, target_partitions=1)
    m3 = _manifest_read(ledger)
    assert m3["content_key_encoding"] == stream.CONTENT_KEY_ENCODING
    # and the rollup still works after all of that
    _mk_feed(spark, 45, 60).write.mode("append").parquet(feed)
    _run_rollup(spark, feed, rollup, str(tmp_path / "ckpt"))
    total = (
        stream.read_rollup(spark, rollup)
        .agg(F.sum("n_events"))
        .collect()[0][0]
    )
    assert total == 60


def test_rollup_rejects_mismatched_or_missing_encoding(spark, tmp_path):
    """A ledger stamped with a DIFFERENT encoding version (or none — a
    pre-marker store) must fail the batch loudly: replays against its
    rollup's partials would never match and double-count."""
    from allora_indexer_spark.plans.warehouse import (
        _new_version_id,
        _publish_manifest,
    )

    feed = str(tmp_path / "feed")
    rollup = str(tmp_path / "rollup")
    ledger = rollup + "_keys"
    _mk_feed(spark, 0, 10).write.mode("append").parquet(feed)
    _run_rollup(spark, feed, rollup, str(tmp_path / "ckpt"))

    # forge an OLD-encoding stamp into the ledger manifest
    m = _manifest_read(ledger)
    forged = dict(m)
    forged["version"] = _new_version_id()
    forged["content_key_encoding"] = 1
    _publish_manifest(ledger, forged, expect=m["version"])

    _mk_feed(spark, 10, 20).write.mode("append").parquet(feed)
    q = stream.start_continuous_rollup(
        spark, feed, FEED_SCHEMA, rollup, str(tmp_path / "ckpt")
    )
    with pytest.raises(Exception, match="content_key encoding"):
        q.awaitTermination(120)
        q.stop()
        raise RuntimeError(q.exception() or "stream succeeded unexpectedly")

    # the recovery the error names: rebuild rollup + ledger + checkpoint
    # together from the feed
    import shutil

    for d in (rollup, ledger, str(tmp_path / "ckpt")):
        shutil.rmtree(d)
    _run_rollup(spark, feed, rollup, str(tmp_path / "ckpt"))
    assert (
        _manifest_read(ledger)["content_key_encoding"]
        == stream.CONTENT_KEY_ENCODING
    )
    total = (
        stream.read_rollup(spark, rollup)
        .agg(F.sum("n_events"))
        .collect()[0][0]
    )
    assert total == 20


def test_rollup_rejects_pre_manifest_plain_ledger(spark, tmp_path):
    """A plain-dir ledger (pre-manifest upgrade) is unknowable — refuse."""
    feed = str(tmp_path / "feed")
    rollup = str(tmp_path / "rollup")
    ledger = rollup + "_keys"
    _mk_feed(spark, 0, 5).select("event_id").write.parquet(ledger)
    _mk_feed(spark, 0, 10).write.mode("append").parquet(feed)
    q = stream.start_continuous_rollup(
        spark, feed, FEED_SCHEMA, rollup, str(tmp_path / "ckpt")
    )
    with pytest.raises(Exception, match="pre-manifest plain ledger"):
        q.awaitTermination(120)
        raise RuntimeError(q.exception() or "stream succeeded unexpectedly")


def _plain_entries(path):
    return sorted(e for e in os.listdir(path) if not e.startswith("."))


def test_plain_dir_at_table_path_refuses_first_write(spark, tmp_path):
    """A plain parquet dir at a table path (how earlier releases started
    every insert-if-absent table) is not a table, and it must not become
    one silently: a first-write manifest would hide its rows from every
    reader and from the anti-join. The insert, the upsert and the
    precreation all raise and leave the dir exactly as it was."""
    root = str(tmp_path / "wh")
    losses = os.path.join(root, "networklosses")
    rows = spark.range(0, 6).select(
        F.col("id").alias("height_tx"),
        F.col("id").alias("height"),
        (F.col("id") % 3).alias("topic_id"),
        F.col("id").cast("double").alias("value"),
    )
    rows.coalesce(1).write.parquet(losses)
    scores = os.path.join(root, "scores")
    score_rows = rows.select(
        "height_tx", "height", "topic_id",
        F.lit("t").alias("type"),
        F.concat(F.lit("addr"), F.col("height")).alias("address"),
        F.col("value").alias("value_raw"),
    )
    score_rows.coalesce(1).write.parquet(scores)
    before = {p: _plain_entries(p) for p in (losses, scores)}

    with pytest.raises(warehouse.PlainDirectoryError, match="plain parquet"):
        warehouse.write_insert_if_absent(spark, rows, root, "networklosses")
    with pytest.raises(warehouse.PlainDirectoryError, match="plain parquet"):
        warehouse.write_keep_one(
            spark, score_rows, root, "scores", [F.col("height_tx").desc()]
        )
    with pytest.raises(warehouse.PlainDirectoryError, match="plain parquet"):
        stream.precreate_event_tables(spark, root)

    for p, entries in before.items():
        assert _manifest_read(p) is None
        assert _plain_entries(p) == entries
        assert spark.read.parquet(p).count() == 6
    # the refusal is per table: precreation still created the others
    assert warehouse.table_exists(root, "events")


def test_rollup_refuses_plain_rollup_beside_manifest_ledger(spark, tmp_path):
    """Earlier releases seeded the ledger as a manifest store but wrote
    the rollup as a plain dir. The marker check passes on such a pair, so
    the rollup's first manifest would hide every earlier partial while
    the ledger still anti-joins their keys (a silent undercount). The
    batch fails before either store changes."""
    import shutil

    feed = str(tmp_path / "feed")
    rollup = str(tmp_path / "rollup")
    ledger = rollup + "_keys"
    ckpt = str(tmp_path / "ckpt")
    _mk_feed(spark, 0, 10).write.mode("append").parquet(feed)
    _run_rollup(spark, feed, rollup, ckpt)
    staged = str(tmp_path / "plain_rollup")
    warehouse.read_dir(spark, rollup).write.parquet(staged)
    shutil.rmtree(rollup)
    os.rename(staged, rollup)
    before = _plain_entries(rollup)
    ledger_ver = _manifest_read(ledger)["version"]

    _mk_feed(spark, 10, 20).write.mode("append").parquet(feed)
    q = stream.start_continuous_rollup(spark, feed, FEED_SCHEMA, rollup, ckpt)
    with pytest.raises(Exception, match="plain parquet data"):
        q.awaitTermination(120)
        raise RuntimeError(q.exception() or "stream succeeded unexpectedly")

    assert _plain_entries(rollup) == before
    assert _manifest_read(rollup) is None
    assert _manifest_read(ledger)["version"] == ledger_ver
    total = spark.read.parquet(rollup).agg(F.sum("n_events")).collect()[0][0]
    assert total == 10


def test_compact_carries_app_manifest_keys(spark, tmp_path):
    """An out-of-band compact() on the heavy-hitter store must not drop
    n_total/last_batch/batch_fps — losing them resets the count plane and
    replayed batches double-count."""
    store = str(tmp_path / "hh")
    support = 0.2
    b0 = spark.createDataFrame(
        [(1, "the the the cat")], "doc_id long, text string"
    )
    stream._merge_heavy_hitter_batch(spark, b0, 0, store, support)
    before = _manifest_read(store)
    assert before["n_total"] == 4 and before["last_batch"] == 0

    warehouse.compact(spark, store, target_partitions=1)
    after = _manifest_read(store)
    assert after["n_total"] == 4
    assert after["last_batch"] == 0
    assert after["batch_fps"] == before["batch_fps"]

    # replay of batch 0 after the compact is still a no-op
    stream._merge_heavy_hitter_batch(spark, b0, 0, store, support)
    assert _manifest_read(store)["n_total"] == 4


def test_heavy_hitter_records_empty_batches(spark, tmp_path):
    """An EMPTY in-window batch advances last_batch and records its
    fingerprint — a reset checkpoint replaying a NON-empty batch 0 over
    it must mismatch loudly instead of being silently skipped."""
    store = str(tmp_path / "hh")
    support = 0.2
    empty = spark.createDataFrame([], "doc_id long, text string")
    # original batch 0 is empty AND the store does not exist yet: the
    # store's first (empty) version is published with the fp recorded
    stream._merge_heavy_hitter_batch(spark, empty, 0, store, support)
    m = _manifest_read(store)
    assert m is not None and m["last_batch"] == 0 and m["n_total"] == 0
    assert m["batch_fps"]["0"] == 0

    data = spark.createDataFrame(
        [(1, "the the the cat")], "doc_id long, text string"
    )
    stream._merge_heavy_hitter_batch(spark, data, 1, store, support)
    m2 = _manifest_read(store)
    assert m2["n_total"] == 4 and m2["last_batch"] == 1

    # an empty batch on an EXISTING store also advances the watermark
    stream._merge_heavy_hitter_batch(spark, empty, 2, store, support)
    m3 = _manifest_read(store)
    assert m3["last_batch"] == 2 and m3["n_total"] == 4
    assert m3["batch_fps"]["2"] == 0

    # replay of the empty batch is a no-op (fp 0 == recorded 0)
    stream._merge_heavy_hitter_batch(spark, empty, 2, store, support)
    assert _manifest_read(store)["last_batch"] == 2

    # reset checkpoint: non-empty batch 0 over the recorded empty fp
    with pytest.raises(RuntimeError, match="DIFFERENT content"):
        stream._merge_heavy_hitter_batch(spark, data, 0, store, support)


def test_heavy_hitter_batch0_without_fp_is_suspect(spark, tmp_path):
    """A replayed batch 0 against a non-empty store with NO recorded
    fingerprint (pre-guard store, or lost record) fails suspect — it is
    indistinguishable from a checkpoint reset."""
    from allora_indexer_spark.plans.warehouse import (
        _new_version_id,
        _publish_manifest,
    )

    store = str(tmp_path / "hh")
    support = 0.2
    data = spark.createDataFrame(
        [(1, "the the the cat")], "doc_id long, text string"
    )
    stream._merge_heavy_hitter_batch(spark, data, 0, store, support)
    stream._merge_heavy_hitter_batch(spark, data, 1, store, support)
    # simulate a pre-guard store: strip the fingerprint records
    m = _manifest_read(store)
    stripped = dict(m)
    stripped["version"] = _new_version_id()
    stripped["batch_fps"] = {}
    _publish_manifest(store, stripped, expect=m["version"])

    with pytest.raises(RuntimeError, match="no recorded fingerprint"):
        stream._merge_heavy_hitter_batch(spark, data, 0, store, support)

    # a replayed LATER batch without an fp stays a silent no-op (only
    # batch 0 is the reset signature; ids 1..7 may simply predate fps)
    before = _manifest_read(store)["n_total"]
    stream._merge_heavy_hitter_batch(spark, data, 1, store, support)
    assert _manifest_read(store)["n_total"] == before


def test_fk_levels_empty_and_seed_is_atomic(spark, tmp_path):
    """Review fixes: an empty tables dict is a no-op (not max()-on-empty);
    the ledger seed is ONE atomic publish already carrying the encoding
    marker — no crash window between seed and stamp."""
    assert warehouse._fk_levels([]) == []
    warehouse.write_tables(spark, {}, str(tmp_path / "wh"))  # no-op

    feed = str(tmp_path / "feed")
    rollup = str(tmp_path / "rollup")
    _mk_feed(spark, 0, 5).write.mode("append").parquet(feed)
    _run_rollup(spark, feed, rollup, str(tmp_path / "ckpt"))
    m = _manifest_read(rollup + "_keys")
    # the FIRST manifest version in history already has the marker (the
    # three-step seed left version 1 marker-less)
    from allora_indexer_spark.plans.warehouse import list_versions, STORAGE

    versions = list_versions(rollup + "_keys")
    first = STORAGE.read_history(versions[-1][0])
    assert first["content_key_encoding"] == stream.CONTENT_KEY_ENCODING
    assert m["content_key_encoding"] == stream.CONTENT_KEY_ENCODING


def test_heavy_hitter_one_batch_store_retry_is_benign(spark, tmp_path):
    """A pre-guard store whose ONLY batch is id 0 (last_batch == 0, no
    recorded fp): a same-checkpoint crash retry of batch 0 must stay the
    silent no-op it was — only multi-batch stores treat a fp-less batch-0
    replay as a reset (a retry only ever replays the LAST batch)."""
    from allora_indexer_spark.plans.warehouse import (
        _new_version_id,
        _publish_manifest,
    )

    store = str(tmp_path / "hh")
    data = spark.createDataFrame(
        [(1, "the the the cat")], "doc_id long, text string"
    )
    stream._merge_heavy_hitter_batch(spark, data, 0, store, 0.2)
    m = _manifest_read(store)
    stripped = dict(m)
    stripped["version"] = _new_version_id()
    stripped["batch_fps"] = {}
    _publish_manifest(store, stripped, expect=m["version"])

    stream._merge_heavy_hitter_batch(spark, data, 0, store, 0.2)  # no raise
    assert _manifest_read(store)["n_total"] == 4


def test_load_table_reads_manifest_layout_sources(spark, tmp_path, sf_dir):
    """tables.load_table must see a source written by the engine's own
    writers, i.e. a manifest table (plain reads see only underscore
    entries) — the whole registry, not just the index builder, reads
    both plain and manifest sources."""
    import shutil

    from allora_indexer_spark.tables import load_table

    sfd = str(tmp_path / "sf")
    src = f"{sf_dir}/embeddings.parquet"
    dst = f"{sfd}/embeddings.parquet"
    n_plain = load_table(spark, sf_dir, "embeddings").count()
    warehouse.append_dir(spark.read.parquet(src), dst)
    warehouse.compact(spark, dst, target_partitions=1)
    assert _manifest_read(dst) is not None
    assert load_table(spark, sfd, "embeddings").count() == n_plain
    more = spark.read.parquet(src).withColumn(
        "vec_id", F.col("vec_id") + 10_000_000
    )
    warehouse.append_dir(more, dst)
    assert load_table(spark, sfd, "embeddings").count() == 2 * n_plain
    shutil.rmtree(sfd, ignore_errors=True)
