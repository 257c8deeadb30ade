"""One table layout: every table and store the engine writes is a
manifest table from its first write.

A table directory holds `_CURRENT`, `_manifests/` and `_versions/` and
nothing else at its root: no parquet file and no hive `k=v` directory.
This drives every writer that creates a table or a store — sink
precreation, both streaming sinks (including a re-delivered height), the
continuous rollup and its ledger, the near-dup signature and pair stores,
and the IVF corpus with an incremental append — and checks the layout of
every directory they wrote.
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from allora_indexer_spark.operators import ann_index
from allora_indexer_spark.plans import warehouse
from allora_indexer_spark.sources.fixtures import (
    build_block_results,
    build_blocks,
)
from allora_indexer_spark.streaming import stream


def _write_feed(feed_dir: str, items: list[dict]) -> None:
    """Three feed files, one trigger each at maxFilesPerTrigger=1; the
    third re-delivers a height the first one already carried."""
    os.makedirs(feed_dir)
    parts = [items[:4], items[4:], items[1:2]]
    for i, part in enumerate(parts):
        p = os.path.join(feed_dir, f"part-{i:03d}.jsonl")
        with open(p, "w") as fh:
            fh.writelines(json.dumps(x) + "\n" for x in part)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))


def _assert_manifest_table(path: str) -> None:
    assert os.path.isfile(os.path.join(path, "_CURRENT")), path
    stray = [
        e for e in os.listdir(path) if e.endswith(".parquet") or "=" in e
    ]
    assert not stray, f"{path}: data at the table root: {stray}"


def test_every_written_table_is_a_manifest_table(spark, tmp_path):
    root = str(tmp_path)
    wh = os.path.join(root, "wh")
    stream.precreate_event_tables(spark, wh)
    stream.precreate_block_tables(spark, wh)

    _write_feed(os.path.join(root, "blocks"), build_blocks())
    _write_feed(os.path.join(root, "results"), build_block_results())
    for start, feed in (
        (stream.start_block_ingest, "blocks"),
        (stream.start_event_ingest, "results"),
    ):
        q = start(
            spark,
            os.path.join(root, feed),
            wh,
            os.path.join(root, f"ckpt_{feed}"),
            max_files_per_trigger=1,
        )
        q.awaitTermination(300)
        assert len(q.recentProgress) == 3, feed

    feed = os.path.join(root, "rollup_feed")
    base = dt.datetime(2024, 6, 1)
    spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=i), float(i)) for i in range(6)],
        "event_id LONG, ts TIMESTAMP, value DOUBLE",
    ).write.parquet(feed)
    rollup = os.path.join(root, "rollup")
    stream.start_continuous_rollup(
        spark,
        feed,
        "event_id LONG, ts TIMESTAMP, value DOUBLE",
        rollup,
        os.path.join(root, "ckpt_rollup"),
    ).awaitTermination(120)

    sig, pairs = os.path.join(root, "sig"), os.path.join(root, "pairs")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
        ],
        "doc_id LONG, text STRING",
    )
    stream._merge_near_dup_batch(spark, docs, pairs, sig, 0.5)

    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (k + 3)) % 7).cast("float") for k in range(4)]
        ).alias("embedding"),
    )
    idx = os.path.join(root, "ivf")
    ann_index.build_ivf_index(
        spark, emb.filter("vec_id < 30"), idx, n_cells=2
    )
    ann_index.append_to_ivf_index(spark, emb.filter("vec_id >= 30"), idx)
    corpus = os.path.join(idx, "corpus")
    assert warehouse.read_dir(spark, corpus).count() == 40

    tables = sorted(
        e
        for e in os.listdir(wh)
        if os.path.isdir(os.path.join(wh, e))
    )
    assert tables == sorted(
        stream.BLOCK_SINK_TABLES + stream.EVENT_SINK_TABLES
    )
    stores = [os.path.join(wh, t) for t in tables] + [
        rollup, rollup + "_keys", sig, pairs, corpus,
    ]
    for path in stores:
        _assert_manifest_table(path)
