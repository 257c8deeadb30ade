"""Structured Streaming ingest: availableNow backfill over the fixture feeds
must produce exactly the batch pipeline's tables (T1/T2/T6), and a second
stream start with a fresh checkpoint must not duplicate rows (T3)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from allora_indexer_spark.plans import ingest, warehouse
from allora_indexer_spark.sources.fixtures import write_fixtures
from allora_indexer_spark.streaming import stream


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_fixtures")
    write_fixtures(str(d))
    return str(d)


def test_streaming_matches_batch(spark, fixture_dir, tmp_path):
    wh = str(tmp_path / "wh")
    q1 = stream.start_block_ingest(
        spark, f"{fixture_dir}/blocks", wh, str(tmp_path / "ckpt_b")
    )
    q1.awaitTermination(300)
    q2 = stream.start_event_ingest(
        spark, f"{fixture_dir}/block_results", wh, str(tmp_path / "ckpt_e")
    )
    q2.awaitTermination(300)

    blocks = ingest.read_blocks(spark, f"{fixture_dir}/blocks")
    results = ingest.read_block_results(
        spark, f"{fixture_dir}/block_results"
    )
    batch = ingest.build_tables(blocks, results)
    for name, bdf in batch.items():
        streamed = warehouse.read_table(spark, wh, name)
        assert streamed.count() == bdf.count(), f"{name}: stream != batch count"

    # replay with a fresh checkpoint: idempotent writers absorb the rerun
    q3 = stream.start_block_ingest(
        spark, f"{fixture_dir}/blocks", wh, str(tmp_path / "ckpt_b2")
    )
    q3.awaitTermination(300)
    for name in ("block_info", "messages", "inferences"):
        assert warehouse.read_table(spark, wh, name).count() == batch[name].count()


def test_watermarked_window_drops_too_late_blocks(spark, tmp_path):
    """Append-mode windowed aggregation with a 1-minute watermark: windows
    finalize once the watermark passes; a block arriving behind the
    watermark is dropped, one within a still-open window is counted."""
    import json

    from allora_indexer_spark.sources.fixtures import build_blocks

    feed = tmp_path / "feed"
    feed.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    blocks = build_blocks()  # heights 101..106 at minutes 00:01..00:06
    with open(feed / "part-000.jsonl", "w") as f:
        for b in blocks:
            f.write(json.dumps(b) + "\n")
    q = stream.start_block_window_stats(spark, str(feed), out, ckpt)
    q.awaitTermination(300)

    emitted = {
        str(r["window_start"]): r["n_blocks"]
        for r in spark.read.parquet(out).collect()
    }
    # watermark = 00:06 - 1min = 00:05 → windows ending <= 00:05 finalized:
    # [00:00,00:02)={101}, [00:02,00:04)={102,103,103-dup}; [00:04,00:06) open.
    # The stream counts raw feed rows — the duplicated height-103 block is
    # visible here; per-height dedup belongs to block_info (K1), not the
    # window stats.
    assert emitted == {
        "2024-06-01 00:00:00": 1,
        "2024-06-01 00:02:00": 3,
    }

    # phase 2: a too-late block (00:00:30, behind the watermark → dropped)
    # and a fresh one at 00:08 advancing the watermark past 00:06
    late = build_blocks()[0]
    late["header"]["height"] = "90"
    late["header"]["time"] = "2024-06-01T00:00:30Z"
    fresh = build_blocks()[0]
    fresh["header"]["height"] = "108"
    fresh["header"]["time"] = "2024-06-01T00:08:00Z"
    with open(feed / "part-001.jsonl", "w") as f:
        f.write(json.dumps(late) + "\n")
        f.write(json.dumps(fresh) + "\n")
    q = stream.start_block_window_stats(spark, str(feed), out, ckpt)
    q.awaitTermination(300)

    emitted = {
        str(r["window_start"]): r["n_blocks"]
        for r in spark.read.parquet(out).collect()
    }
    # [00:00,00:02) was NOT re-emitted with the late block (dropped), and
    # [00:04,00:06) finalized with its original two blocks {104,105}
    assert emitted["2024-06-01 00:00:00"] == 1
    assert emitted["2024-06-01 00:04:00"] == 2


def test_stateful_keep_latest_commit(spark, tmp_path):
    """applyInPandasWithState keep-latest: state must carry the max
    (height_tx, height) per (topic_id, is_worker) ACROSS micro-batches and
    restarts, so a stale commit replayed later cannot regress the stored
    latest (the ON CONFLICT ... DO UPDATE semantics of the reference's
    last_commit_values)."""
    import json

    from allora_indexer_spark.sources.fixtures import (
        _event,
        _j,
        _q,
        build_block_results,
    )

    feed = tmp_path / "results"
    feed.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    with open(feed / "part-000.jsonl", "w") as f:
        for r in build_block_results():
            f.write(json.dumps(r) + "\n")

    q = stream.start_last_commit_state_stream(spark, str(feed), out, ckpt)
    q.awaitTermination(300)

    rows = spark.read.parquet(out).collect()
    latest = {
        (r["topic_id"], r["is_worker"]): (r["height_tx"], r["height"])
        for r in sorted(rows, key=lambda r: r["batch_id"])
    }
    # worker commits arrived at height_tx 104 then 106 → 106 wins;
    # the only reputer commit is at height_tx 104
    assert latest[(1, True)] == (106, 105)
    assert latest[(1, False)] == (104, 103)

    # a STALE worker commit (older than the stored state) replayed in a new
    # batch: the state compare must keep (106, 105)
    stale = {
        "result": {
            "height": "107",
            "finalize_block_events": [
                _event(
                    "emissions.v4.EventWorkerLastCommitSet",
                    topic_id=_q(1),
                    block_height=_q(102),
                    nonce=_j({"block_height": "101"}),
                )
            ],
            "txs_results": [],
        }
    }
    # plus a MALFORMED commit (no nonce → null height): it must be
    # quarantined, not crash the batch and wedge the stream
    broken = {
        "result": {
            "height": "108",
            "finalize_block_events": [
                _event(
                    "emissions.v4.EventWorkerLastCommitSet",
                    topic_id=_q(1),
                    block_height=_q(108),
                )
            ],
            "txs_results": [],
        }
    }
    with open(feed / "part-001.jsonl", "w") as f:
        f.write(json.dumps(stale) + "\n")
        f.write(json.dumps(broken) + "\n")
    q = stream.start_last_commit_state_stream(spark, str(feed), out, ckpt)
    q.awaitTermination(300)

    rows = spark.read.parquet(out).collect()
    last_batch = max(r["batch_id"] for r in rows)
    emitted = {
        (r["topic_id"], r["is_worker"]): (r["height_tx"], r["height"])
        for r in rows
        if r["batch_id"] == last_batch
    }
    assert emitted == {(1, True): (106, 105)}, (
        "stale replay regressed the keep-latest state"
    )


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the in-feed duplicate of height 103 and
    a replayed height 104 must be dropped in-flight; a genuinely new height
    passes."""
    import json

    from allora_indexer_spark.sources.fixtures import build_blocks

    feed = tmp_path / "blocks"
    feed.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    blocks = build_blocks()
    with open(feed / "part-000.jsonl", "w") as f:
        for b in blocks:
            f.write(json.dumps(b) + "\n")

    q = stream.start_dedup_block_stream(spark, str(feed), out, ckpt)
    q.awaitTermination(300)
    heights = [r["height"] for r in spark.read.parquet(out).collect()]
    assert sorted(heights) == sorted(set(heights)), "duplicate height emitted"
    n_first = len(heights)

    replay = build_blocks()[3]  # height 104 again, same event time
    fresh = build_blocks()[0]
    fresh["header"]["height"] = "107"
    fresh["header"]["time"] = "2024-06-01T00:07:00Z"
    with open(feed / "part-001.jsonl", "w") as f:
        f.write(json.dumps(replay) + "\n")
        f.write(json.dumps(fresh) + "\n")
    q = stream.start_dedup_block_stream(spark, str(feed), out, ckpt)
    q.awaitTermination(300)

    heights = [r["height"] for r in spark.read.parquet(out).collect()]
    assert len(heights) == n_first + 1
    assert 107 in heights and heights.count(104) == 1


def test_stream_stream_join_enriches_events(spark, tmp_path):
    """Watermarked stream-stream join on height: every height present in
    BOTH feeds appears exactly once with the block's event time attached;
    results-only or blocks-only heights are held back (inner join)."""
    from allora_indexer_spark.sources.fixtures import write_fixtures

    write_fixtures(str(tmp_path))
    out = str(tmp_path / "out")
    q = stream.start_enriched_event_stream(
        spark,
        f"{tmp_path}/blocks",
        f"{tmp_path}/block_results",
        out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    rows = spark.read.parquet(out).collect()
    by_height = {}
    for r in rows:
        by_height.setdefault(r["height"], []).append(r)
    # blocks feed covers 101..106 (103 duplicated); results feed covers
    # 101..106 (103 duplicated) → the join emits each matched (block-row,
    # result-row) combination; heights present once per side appear once
    assert set(by_height) == {101, 102, 103, 104, 105, 106}
    assert all(r["block_time"] is not None for r in rows)
    assert len(by_height[101]) == 1
    # duplicated height on both sides → 2x2 join combinations, which is
    # exactly why the dedup stage (start_dedup_block_stream) runs upstream
    assert len(by_height[103]) == 4


def test_streaming_session_windows_split_on_gap(spark, tmp_path):
    """Blocks at 1-minute cadence with a 5-minute hole: the 90 s session
    gap merges the steady stretch into one session and starts a new one
    after the hole; only sessions sealed by the watermark are emitted."""
    import json

    from allora_indexer_spark.sources.fixtures import build_blocks

    feed = tmp_path / "feed"
    feed.mkdir()
    out = str(tmp_path / "out")

    blocks = build_blocks()  # heights 101..106 at 00:01..00:06 (103 dup)
    late = build_blocks()[0]
    late["header"]["height"] = "110"
    late["header"]["time"] = "2024-06-01T00:11:00Z"  # after a 5-min hole
    sealer = build_blocks()[0]
    sealer["header"]["height"] = "115"
    sealer["header"]["time"] = "2024-06-01T00:30:00Z"  # advances watermark
    with open(feed / "part-000.jsonl", "w") as f:
        for b in blocks + [late, sealer]:
            f.write(json.dumps(b) + "\n")

    q = stream.start_session_window_stream(
        spark, str(feed), out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    rows = {
        str(r["session_start"]): (r["n_blocks"], r["first_height"], r["last_height"])
        for r in spark.read.parquet(out).collect()
    }
    # session 1: 00:01..00:06 steady cadence (7 feed rows incl. the 103 dup)
    assert rows["2024-06-01 00:01:00"] == (7, 101, 106)
    # session 2: the lone post-hole block
    assert rows["2024-06-01 00:11:00"] == (1, 110, 110)


def test_continuous_rollup_matches_batch_and_absorbs_replay(spark, tmp_path):
    """The continuously-maintained rollup must equal the batch rollup over
    the full feed after incremental catch-up, and replaying the whole feed
    under a FRESH checkpoint (worst-case redelivery) must not change it."""
    import datetime as dt

    feed = str(tmp_path / "feed")
    rollup = str(tmp_path / "rollup")
    schema = "event_id LONG, ts TIMESTAMP, value DOUBLE"

    def mk(lo, hi):
        base = dt.datetime(2024, 6, 1, 0, 0, 0)
        return spark.createDataFrame(
            [
                (i, base + dt.timedelta(minutes=i), float(i) / 4)
                for i in range(lo, hi)
            ],
            schema,
        )

    mk(0, 40).write.mode("append").parquet(feed)
    q = stream.start_continuous_rollup(
        spark, feed, schema, rollup, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    mk(40, 75).write.mode("append").parquet(feed)
    q = stream.start_continuous_rollup(
        spark, feed, schema, rollup, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    got = {
        str(r["window_start"]): (r["n_events"], float(r["sum_value"]))
        for r in stream.read_rollup(spark, rollup).collect()
    }
    expected = {
        str(r["window_start"]): (r["n_events"], float(r["sum_value"]))
        for r in mk(0, 75)
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        .collect()
    }
    assert got == expected and len(got) == 8

    # full replay with a fresh checkpoint: every batch re-delivered
    q = stream.start_continuous_rollup(
        spark, feed, schema, rollup, str(tmp_path / "ckpt2")
    )
    q.awaitTermination(300)
    again = {
        str(r["window_start"]): (r["n_events"], float(r["sum_value"]))
        for r in stream.read_rollup(spark, rollup).collect()
    }
    assert again == expected, "replay double-counted the rollup"


def test_transform_with_state_ema(spark, tmp_path):
    """transformWithStateInPandas EMA: the running value must fold scores
    across micro-batches through the state store — a second feed file
    continues from the first file's state, matching the sequential
    recurrence computed in plain Python."""
    import json

    from allora_indexer_spark.sources.fixtures import _event, _j, _q

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip(
            "transformWithStateInPandas needs the protobuf package "
            "(absent in this container); applyInPandasWithState covers "
            "the stateful path here"
        )

    old_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        feed = tmp_path / "results"
        feed.mkdir()
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        def score_event(height, scores):
            return {
                "result": {
                    "height": str(height),
                    "finalize_block_events": [
                        _event(
                            "emissions.v1.EventScoresSet",
                            topic_id=_q(1),
                            actor_type=_q("inferer"),
                            block_height=_q(height),
                            addresses=_j(["w1"] * len(scores)),
                            scores=_j([str(s) for s in scores]),
                        )
                    ],
                    "txs_results": [],
                }
            }

        with open(feed / "part-000.jsonl", "w") as f:
            f.write(json.dumps(score_event(101, [1.0])) + "\n")
            f.write(json.dumps(score_event(102, [2.0])) + "\n")
        q = stream.start_streaming_ema(spark, str(feed), out, ckpt)
        q.awaitTermination(300)
        with open(feed / "part-001.jsonl", "w") as f:
            f.write(json.dumps(score_event(103, [4.0])) + "\n")
        q = stream.start_streaming_ema(spark, str(feed), out, ckpt)
        q.awaitTermination(300)

        rows = sorted(
            spark.read.parquet(out).collect(), key=lambda r: r["batch_id"]
        )
        a = stream.EMA_ALPHA
        e1 = 1.0
        e1 = a * 2.0 + (1 - a) * e1  # batch 0 folds heights 101+102
        assert abs(rows[0]["ema"] - e1) < 1e-12 and rows[0]["n_scores"] == 2
        e2 = a * 4.0 + (1 - a) * e1  # batch 1 continues from stored state
        assert abs(rows[-1]["ema"] - e2) < 1e-12 and rows[-1]["n_scores"] == 1
    finally:
        if old_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old_provider
            )


@pytest.mark.soak
def test_rate_limited_backfill_splits_batches(spark, tmp_path):
    """maxFilesPerTrigger=1 over a 3-file feed must process the backfill as
    multiple micro-batches (bounded work per trigger) and still land every
    block exactly once."""
    import json

    from allora_indexer_spark.sources.fixtures import build_blocks

    feed = tmp_path / "blocks"
    feed.mkdir()
    blocks = build_blocks()
    for i in range(3):
        with open(feed / f"part-{i:03d}.jsonl", "w") as f:
            for b in blocks[i * 2 : i * 2 + 2]:
                f.write(json.dumps(b) + "\n")

    wh = str(tmp_path / "wh")
    q = stream.start_block_ingest(
        spark,
        str(feed),
        wh,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    # under full-suite load the availableNow drain can exceed 2 min; a lapsed
    # timeout used to surface as a confusing progress-count mismatch
    assert q.awaitTermination(300), "backfill stream did not drain in 300s"
    progress = q.recentProgress
    assert len([p for p in progress if p["numInputRows"] > 0]) == 3
    got = sorted(
        r["height"]
        for r in warehouse.read_table(spark, wh, "block_info").collect()
    )
    assert got == [101, 102, 103, 104, 105, 106]


def test_continuous_rollup_quarantines_null_keys(spark, tmp_path):
    """Rows with a NULL natural key cannot be deduplicated by the ledger —
    they must be excluded from the rollup regardless of what else shares
    their batch (all-null and mixed batches behave identically)."""
    import datetime as dt

    feed = str(tmp_path / "feed")
    rollup = str(tmp_path / "rollup")
    schema = "event_id LONG, ts TIMESTAMP, value DOUBLE"
    base = dt.datetime(2024, 6, 1, 0, 0, 0)

    spark.createDataFrame(
        [(None, base, 99.0), (None, base, 99.0)], schema
    ).write.mode("append").parquet(feed)
    q = stream.start_continuous_rollup(
        spark, feed, schema, rollup, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    spark.createDataFrame(
        [(1, base, 2.0), (None, base, 99.0)], schema
    ).write.mode("append").parquet(feed)
    q = stream.start_continuous_rollup(
        spark, feed, schema, rollup, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    rows = stream.read_rollup(spark, rollup).collect()
    assert len(rows) == 1
    assert (rows[0]["n_events"], float(rows[0]["sum_value"])) == (1, 2.0)


def test_incremental_near_dup_probes_store_across_batches(spark, tmp_path):
    """Incremental LSH dedup: batch 2's near-duplicate of a batch-1 doc is
    caught via the persisted signature store (cross-batch pair), an
    intra-batch duplicate pair is caught too, a re-delivered doc_id is
    ignored, and the store is bucket-partitioned on disk."""
    import os

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    pairs_dir = str(tmp_path / "pairs")
    sig_dir = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batch1 = [(1, base), (2, "one two three four five six seven eight")]
    spark.createDataFrame(batch1, "doc_id LONG, text STRING").coalesce(
        1
    ).write.parquet(str(docs_dir / "b1"))
    q = stream.start_incremental_near_dup(
        spark, str(docs_dir), pairs_dir, sig_dir, ckpt
    )
    q.awaitTermination(300)
    from allora_indexer_spark.plans import warehouse as _wh

    assert _wh.read_dir(spark, pairs_dir).count() == 0  # nothing similar yet
    assert (
        _wh.read_dir(spark, sig_dir).select("doc_id").distinct().count() == 2
    )

    # batch 2: doc 10 ~ doc 1 (near-dup, one word changed), docs 11/12 are
    # identical to each other (intra-batch pair), doc 1 is re-delivered
    batch2 = [
        (10, base.replace("kappa", "lambda")),
        (11, "red orange yellow green blue indigo violet ultraviolet"),
        (12, "red orange yellow green blue indigo violet ultraviolet"),
        (1, base),
    ]
    spark.createDataFrame(batch2, "doc_id LONG, text STRING").coalesce(
        1
    ).write.parquet(str(docs_dir / "b2"))
    q = stream.start_incremental_near_dup(
        spark, str(docs_dir), pairs_dir, sig_dir, ckpt
    )
    q.awaitTermination(300)

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in _wh.read_dir(spark, pairs_dir).collect()
    }
    assert (1, 10) in pairs, "cross-batch near-dup missed"
    assert (11, 12) in pairs, "intra-batch near-dup missed"
    assert len(pairs) == 2
    # re-delivered doc 1 added nothing: store has exactly 5 distinct docs
    sigs = _wh.read_dir(spark, sig_dir)
    assert sigs.select("doc_id").distinct().count() == 5
    # the probe's layout key is a STRING data column (never a hive
    # partition dir, whose value inference would retype all-digit hex
    # buckets like '04' to int 4 and break the probe filter)
    assert dict(sigs.dtypes)["bucket"] == "string"
    assert not any(
        d.startswith("bucket=") for d in os.listdir(sig_dir)
    ), "bucket must stay in the data files"

    # idempotent retry: re-running with the same checkpoint emits nothing new
    q = stream.start_incremental_near_dup(
        spark, str(docs_dir), pairs_dir, sig_dir, ckpt
    )
    q.awaitTermination(300)
    assert _wh.read_dir(spark, pairs_dir).count() == 2
    assert sigs.select("doc_id").distinct().count() == 5


def test_streaming_heavy_hitters_guarantees_and_replay(spark, tmp_path):
    """The streaming heavy-hitter store must (a) report a superset of the
    true frequent set after multiple batches, (b) keep counts as lower
    bounds within the (support/2)·N undercount, and (c) absorb an
    at-least-once replay of an already-merged batch without inflating."""
    import collections

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    store = str(tmp_path / "hh_store")
    ckpt = str(tmp_path / "ckpt")
    support = 0.2  # small corpus → high support keeps the test readable

    b1 = [(1, "hot hot hot cold warm"), (2, "hot hot mild mild damp")]
    b2 = [(3, "hot cold cold cold cold"), (4, "hot mild breeze gust gale")]
    spark.createDataFrame(b1, "doc_id LONG, text STRING").coalesce(
        1
    ).write.parquet(str(docs_dir / "b1"))
    q = stream.start_streaming_heavy_hitters(
        spark, str(docs_dir), store, ckpt, support=support
    )
    q.awaitTermination(300)
    spark.createDataFrame(b2, "doc_id LONG, text STRING").coalesce(
        1
    ).write.parquet(str(docs_dir / "b2"))
    q = stream.start_streaming_heavy_hitters(
        spark, str(docs_dir), store, ckpt, support=support
    )
    q.awaitTermination(300)

    true_counts = collections.Counter(
        t for _, text in b1 + b2 for t in text.split(" ")
    )
    n = sum(true_counts.values())
    import math

    frequent = {
        t
        for t, c in true_counts.items()
        if c >= max(1, math.ceil(support * n))
    }
    report = {
        r["token"]: r["cnt_lb"]
        for r in stream.streaming_frequent_tokens(
            spark, store, support=support
        ).collect()
    }
    assert frequent <= set(report)  # no false negatives
    for tok, lb in report.items():
        assert lb <= true_counts[tok]  # lower bound
        assert lb >= true_counts[tok] - (support / 2.0) * n  # bounded error

    # replay batch 1 (same batch_id the checkpoint already applied): the
    # high-water mark must make it a no-op
    b1_df = spark.createDataFrame(b1, "doc_id LONG, text STRING")
    stream._merge_heavy_hitter_batch(spark, b1_df, 0, store, support)
    report2 = {
        r["token"]: r["cnt_lb"]
        for r in stream.streaming_frequent_tokens(
            spark, store, support=support
        ).collect()
    }
    assert report2 == report


def test_incremental_near_dup_store_compaction_keeps_probing(
    spark, tmp_path, monkeypatch
):
    """The signature store stays correct ACROSS the writer's maintenance:
    appends and probes are manifest-aware, so a batch arriving after a
    fold still pairs against the folded signatures, a fold carries the
    earlier tiers by reference, and once the fold tiers fill the
    manifest bound the writer compacts the store back to one file per
    bucket — probe cost stays flat over an unbounded run instead of
    growing with batch count."""
    import os

    from allora_indexer_spark.plans import warehouse

    monkeypatch.setattr(warehouse, "APPEND_MANIFEST_WARN", 2)
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    pairs_dir = str(tmp_path / "pairs")
    sig_dir = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")

    def run(i, rows):
        spark.createDataFrame(rows, "doc_id LONG, text STRING").coalesce(
            1
        ).write.parquet(str(docs_dir / f"b{i}"))
        q = stream.start_incremental_near_dup(
            spark, str(docs_dir), pairs_dir, sig_dir, ckpt
        )
        q.awaitTermination(300)
        return warehouse._manifest_read(sig_dir)["data"]

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    run(0, [(1, base), (2, "one two three four five six seven eight")])
    data = run(1, [(3, "red orange yellow green blue indigo violet ultraviolet")])
    assert len(data) == 2  # two raw deltas: within the bound
    # batch 2 pushed the store past the bound: the writer folded the
    # three deltas into one tier
    data = run(2, [(4, "north south east west up down left right")])
    assert len(data) == 1 and all(k.startswith("fold_") for k in data)
    tier = dict(data)

    # a post-fold batch must still pair against batch-0 signatures
    data = run(3, [(10, base.replace("kappa", "lambda"))])
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in warehouse.read_dir(spark, pairs_dir).collect()
    }
    assert (1, 10) in pairs, "cross-fold near-dup missed"
    # the next fold reads only the new deltas: the tier is carried
    data = run(4, [(5, "mercury venus earth mars jupiter saturn uranus")])
    assert len(data) == 2 and tier.items() <= data.items(), (
        "tier was rewritten, not carried"
    )
    # its append left two tiers + a delta: a fold cannot get under the
    # bound, so the writer compacted the whole store
    data = run(5, [(6, "spring summer autumn winter dawn noon dusk night")])
    assert list(data) == ["all"]

    # the live file set is compacted: one file per (entry, bucket)
    m = warehouse._manifest_read(sig_dir)
    live = [
        os.path.join(dp, f)
        for d in warehouse._data_dirs(sig_dir, m)
        for dp, _, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert len(live) == len({os.path.dirname(p) for p in live})
    run(6, [(11, "gold silver bronze copper iron tin lead zinc")])
    # and every signature ever written is still reachable
    assert (
        warehouse.read_dir(spark, sig_dir)
        .select("doc_id")
        .distinct()
        .count()
        == 8
    )


def test_continuous_rollup_survives_compaction(spark, tmp_path):
    """compact() on the rollup and ledger dirs (the documented out-of-band
    maintenance) must not break the stream: post-compaction batches keep
    deduplicating against the ledger, appends stay VISIBLE (manifest-
    aware, never a root append a manifest read would miss), and
    read_rollup equals the batch rollup over the whole feed."""
    import datetime as dt

    from allora_indexer_spark.plans import warehouse

    feed = str(tmp_path / "feed")
    rollup = str(tmp_path / "rollup")
    ledger = rollup + "_keys"
    schema = "event_id LONG, ts TIMESTAMP, value DOUBLE"

    def mk(lo, hi):
        base = dt.datetime(2024, 6, 1, 0, 0, 0)
        return spark.createDataFrame(
            [
                (i, base + dt.timedelta(minutes=i), float(i) / 4)
                for i in range(lo, hi)
            ],
            schema,
        )

    mk(0, 40).write.mode("append").parquet(feed)
    q = stream.start_continuous_rollup(
        spark, feed, schema, rollup, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    warehouse.compact(spark, rollup, target_partitions=1)
    warehouse.compact(spark, ledger, target_partitions=1)

    # overlap [30, 60): the 10 replayed keys must still dedup against the
    # COMPACTED ledger; the 20 novel ones must land in visible partials
    mk(30, 60).write.mode("append").parquet(feed)
    q = stream.start_continuous_rollup(
        spark, feed, schema, rollup, str(tmp_path / "ckpt2")
    )
    q.awaitTermination(300)

    got = {
        r["window_start"]: (r["n_events"], float(r["sum_value"]))
        for r in stream.read_rollup(spark, rollup).collect()
    }
    want = {
        r["window_start"]: (r["n_events"], float(r["sum_value"]))
        for r in (
            mk(0, 60)
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,4)")).alias(
                    "sum_value"
                ),
            )
            .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
            .collect()
        )
    }
    assert got == want


def test_incremental_near_dup_tiny_docs_never_grow_store(spark, tmp_path):
    """Sub-2-token docs have an empty shingle set -> null band hash: they
    can never LSH-match anything, and a null bucket evades the
    redelivered-doc probe's isin — so before the fix every redelivery
    re-appended their rows (unbounded store growth). Pinned: such docs
    are excluded from the signature store entirely, across redeliveries,
    while normal docs are unaffected."""
    from allora_indexer_spark.streaming.stream import _merge_near_dup_batch

    pairs_dir = str(tmp_path / "pairs")
    sig_dir = str(tmp_path / "sigs")
    batch = spark.createDataFrame(
        [(1, "solo"), (2, "alpha beta gamma delta epsilon")],
        "doc_id LONG, text STRING",
    )
    for batch_id in range(3):  # deliver + redeliver twice
        _merge_near_dup_batch(
            spark, batch, pairs_dir, sig_dir,
            threshold=0.5,
        )
    from allora_indexer_spark.plans import warehouse as _wh

    sigs = _wh.read_dir(spark, sig_dir)
    assert sigs.filter("doc_id = 1").count() == 0  # tiny doc never stored
    n2 = sigs.filter("doc_id = 2").count()
    assert n2 > 0
    assert sigs.count() == n2  # redeliveries added nothing


def test_continuous_rollup_ledger_is_manifest_backed(spark, tmp_path):
    """The key ledger must be a manifest table from its first row so the
    ledger append is an atomic version flip — a plain parquet append can
    crash with a subset of keys visible, shifting the retry's novel set
    and double-counting the remainder into the rollup."""
    import json
    import os

    from allora_indexer_spark.plans import warehouse as wh

    feed_dir = str(tmp_path / "feed")
    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    rows = [(i, f"2024-01-01 00:0{i}:00", float(i)) for i in range(5)]
    spark.createDataFrame(
        rows, "event_id LONG, ts STRING, value DOUBLE"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value"
    ).coalesce(1).write.mode("append").parquet(feed_dir)
    q = stream.start_continuous_rollup(
        spark,
        feed_dir,
        "event_id LONG, ts TIMESTAMP, value DOUBLE",
        rollup_dir,
        ckpt,
    )
    q.awaitTermination(300)
    ledger_dir = rollup_dir + "_keys"
    m = wh._manifest_read(ledger_dir)
    assert m is not None, "ledger left as a plain (non-atomic) dir"
    assert wh.read_dir(spark, ledger_dir).count() == 5
    assert stream.read_rollup(spark, rollup_dir).agg(
        {"n_events": "sum"}
    ).collect()[0][0] == 5


def test_heavy_hitter_checkpoint_reset_fails_loudly(spark, tmp_path):
    """A RESET streaming checkpoint restarts batch ids at 0 over
    regrouped files: the bare high-water mark silently skipped those
    batches, dropping genuinely-new tokens from the count with no error.
    The content-fingerprint window must (a) still no-op an EXACT replay
    of batch 0, and (b) raise loudly when batch 0 arrives with different
    content."""
    store = str(tmp_path / "hh")
    support = 0.2
    b0 = spark.createDataFrame(
        [(1, "hot hot cold")], "doc_id LONG, text STRING"
    )
    stream._merge_heavy_hitter_batch(spark, b0, 0, store, support)
    before = stream.streaming_frequent_tokens(
        spark, store, support=support
    ).collect()
    stream._merge_heavy_hitter_batch(spark, b0, 0, store, support)  # replay
    after = stream.streaming_frequent_tokens(
        spark, store, support=support
    ).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    other = spark.createDataFrame(
        [(9, "gale gust breeze")], "doc_id LONG, text STRING"
    )
    with pytest.raises(RuntimeError, match="checkpoint was reset"):
        stream._merge_heavy_hitter_batch(spark, other, 0, store, support)


def test_heavy_hitter_empty_and_pruned_batches_do_not_rewrite(
    spark, tmp_path
):
    """An empty batch advances last_batch and records its fingerprint
    via a manifest that carries the previous data entry BY REFERENCE —
    zero store rewrite, but the reset guard stays armed (an original
    empty batch 0 used to be skipped entirely, so a reset replaying a
    NON-empty batch 0 over it was silently dropped — data loss). A batch
    whose candidates are ALL pruned advances n_total/last_batch the same
    carried-by-reference way."""
    from allora_indexer_spark.plans.warehouse import _manifest_read

    store = str(tmp_path / "hh")
    support = 0.5
    b0 = spark.createDataFrame(
        [(1, "hot hot hot")], "doc_id LONG, text STRING"
    )
    stream._merge_heavy_hitter_batch(spark, b0, 0, store, support)
    m1 = _manifest_read(store)
    empty = spark.createDataFrame([], "doc_id LONG, text STRING")
    stream._merge_heavy_hitter_batch(spark, empty, 1, store, support)
    m2 = _manifest_read(store)
    assert m2["data"] == m1["data"]  # carried by reference, no rewrite
    assert m2["n_total"] == m1["n_total"]
    assert m2["last_batch"] == 1 and m2["batch_fps"]["1"] == 0
    # replay of the empty batch stays a no-op (fp 0 == recorded 0)
    stream._merge_heavy_hitter_batch(spark, empty, 1, store, support)
    assert _manifest_read(store)["version"] == m2["version"]
    # 10 distinct singleton tokens: every cnt=1 < (0.5/2)*10 = 2.5
    mixed = spark.createDataFrame(
        [(2, "a b c d e f g h i j")], "doc_id LONG, text STRING"
    )
    stream._merge_heavy_hitter_batch(spark, mixed, 2, store, support)
    m3 = _manifest_read(store)
    assert m3["version"] != m1["version"]
    assert m3["data"] == m1["data"]  # carried by reference, no rewrite
    assert m3["n_total"] == m1["n_total"] + 10
    assert m3["last_batch"] == 2


def test_rollup_content_key_distinguishes_delimiter_sets(spark):
    """{'a,b'} and {'a','b'} are DIFFERENT key sets: the old raw
    concat_ws(',') encoding collided them, so the second partial was
    anti-joined away as 'already applied' and its rows were permanently
    lost from the rollup."""
    a = (
        spark.createDataFrame([("a,b",)], "k string")
        .agg(stream._content_key_agg("k"))
        .collect()[0][0]
    )
    b = (
        spark.createDataFrame([("a",), ("b",)], "k string")
        .agg(stream._content_key_agg("k"))
        .collect()[0][0]
    )
    assert a != b


def test_near_dup_stores_are_manifest_from_first_batch(spark, tmp_path):
    """The signature store must be a manifest table from its FIRST row:
    a plain parquet append can crash with a SUBSET of a doc's band rows
    visible, and the retry's doc_id anti-join then drops the whole doc —
    its missing bands are never written. Manifest appends are atomic
    version flips. The pairs store is seeded too, which also puts both
    under the writer-side auto-maintenance."""
    from allora_indexer_spark.plans.warehouse import _manifest_read
    from allora_indexer_spark.streaming.stream import _merge_near_dup_batch

    pairs_dir = str(tmp_path / "pairs")
    sig_dir = str(tmp_path / "sigs")
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")],
        "doc_id LONG, text STRING",
    )
    _merge_near_dup_batch(
        spark, docs, pairs_dir, sig_dir,
        threshold=0.3,
    )
    assert _manifest_read(sig_dir) is not None
    assert _manifest_read(pairs_dir) is not None
    from allora_indexer_spark.plans import warehouse as _wh

    assert (
        _wh.read_dir(spark, sig_dir).select("doc_id").distinct().count()
        == 2
    )
    assert _wh.read_dir(spark, pairs_dir).count() >= 1  # the near-dup pair


def test_precreate_creates_all_sink_schemas_idempotently(spark, tmp_path):
    """Round-14 cadence cut: every sink table's schema + manifest exists
    BEFORE the stream's first trigger, created through the same
    idempotent writer path — so batch 1 is an ordinary presence-pruned
    batch, not the all-schema outlier. Precreation must be (a) complete,
    (b) empty, (c) idempotent (a restart re-running it is a no-op), and
    (d) invisible to later writes (real rows land normally on top)."""
    wh = str(tmp_path / "wh")
    stream.precreate_block_tables(spark, wh)
    stream.precreate_event_tables(spark, wh)
    for name in stream.BLOCK_SINK_TABLES + stream.EVENT_SINK_TABLES:
        assert warehouse.table_exists(wh, name), name
        assert warehouse.read_table(spark, wh, name).count() == 0, name
    # idempotent: second run sees every table existing and writes no new
    # file anywhere (covers both the manifest and the keep-one `_CURRENT`
    # layouts without caring which writer a table uses)
    import os

    def files():
        out = set()
        for base, _, names in os.walk(wh):
            out.update(os.path.join(base, n) for n in names)
        return out

    before = files()
    stream.precreate_block_tables(spark, wh)
    stream.precreate_event_tables(spark, wh)
    assert files() == before


@pytest.mark.parametrize("feed", ["block", "event"])
def test_sink_layers_are_looked_up_per_trigger(
    spark, tmp_path, monkeypatch, feed
):
    """The benchmark traces each sink layer by replacing module attributes
    (decode, presence, build, span, write_tables, the writers and the
    probe), so the shared sink loop must look them up at call time, call
    each per-batch layer once per trigger, and hand the writers
    (root, name) positionally."""
    import json

    from allora_indexer_spark.sources.fixtures import (
        build_block_results,
        build_blocks,
    )

    rows = build_blocks() if feed == "block" else build_block_results()
    src = tmp_path / "feed"
    src.mkdir()
    for i, part in enumerate((rows[:3], rows[3:])):
        (src / f"part-{i:03d}.jsonl").write_text(
            "".join(json.dumps(r) + "\n" for r in part)
        )
    wh = str(tmp_path / "wh")
    ingest_layers = {
        "block": ["messages", "present_block_tables", "build_tables_for_blocks"],
        "event": ["flat_events", "present_event_tables", "build_tables_for_events"],
    }[feed] + ["batch_height_span"]
    writers = ["write_insert_if_absent", "write_keep_one", "existing_keys_in_range"]
    per_trigger = ingest_layers + ["write_tables"]
    precreate = f"precreate_{feed}_tables"
    getattr(stream, precreate)(spark, wh)  # its calls are not per-trigger

    calls: dict[str, list] = {}

    def wrap(mod, name):
        inner = getattr(mod, name)

        def counted(*args, **kwargs):
            calls.setdefault(name, []).append((args, kwargs))
            return inner(*args, **kwargs)

        monkeypatch.setattr(mod, name, counted)

    for name in ingest_layers:
        wrap(ingest, name)
    for name in ["write_tables"] + writers:
        wrap(warehouse, name)
    wrap(stream, precreate)
    start = getattr(stream, f"start_{feed}_ingest")
    q = start(spark, str(src), wh, str(tmp_path / "ckpt"),
              max_files_per_trigger=1)
    assert q.awaitTermination(300), "stream did not drain in 300s"
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 2
    assert len(calls[precreate]) == 1
    for name in per_trigger:
        assert len(calls.get(name, [])) == 2, name
    sink = stream.BLOCK_SINK_TABLES if feed == "block" else stream.EVENT_SINK_TABLES
    for args, _ in calls["write_tables"]:
        assert args[2] == wh and set(args[1]) <= set(sink)
    assert calls["write_insert_if_absent"] and calls["existing_keys_in_range"]
    assert bool(calls.get("write_keep_one")) == (feed == "event")
    for name in writers:
        for args, kwargs in calls.get(name, []):
            assert args[2] == wh and args[3] in sink, (name, args[2:4])
            assert not {"root", "name"} & set(kwargs), name


@pytest.mark.soak
def test_stream_on_precreated_warehouse_matches_fresh(
    spark, fixture_dir, tmp_path
):
    """A stream started against an already-precreated warehouse (the
    restart case: precreation ran, process died before batch 1) produces
    exactly the same tables as a fresh start — the empty schemas are
    semantically invisible."""
    wh1, wh2 = str(tmp_path / "wh1"), str(tmp_path / "wh2")
    stream.precreate_block_tables(spark, wh1)  # simulate the dead run
    q = stream.start_block_ingest(
        spark, f"{fixture_dir}/blocks", wh1, str(tmp_path / "c1")
    )
    q.awaitTermination(300)
    q = stream.start_block_ingest(
        spark, f"{fixture_dir}/blocks", wh2, str(tmp_path / "c2")
    )
    q.awaitTermination(300)
    for name in ("block_info", "messages", "topics", "inferences"):
        a = warehouse.read_table(spark, wh1, name)
        b = warehouse.read_table(spark, wh2, name)
        # identical schema INCLUDING column order: the insert writer
        # restores the batch's column order after its keys-first
        # anti-join, so every file (and therefore every read) of a table
        # carries one canonical order (found by this test in round 14:
        # mixed-order part files made the read's order depend on footer
        # listing luck)
        assert a.schema == b.schema, name
        assert a.count() == b.count(), name
        assert a.exceptAll(b).count() == 0, name


@pytest.mark.parametrize("modality", ["image", "audio"])
def test_incremental_hash_near_dup_cross_batch_and_replay(
    spark, tmp_path, modality
):
    """The per-modality HASH dedup family (q99zzc/d/e) as a stream
    (round-15): batch 2's perturbed twin of a batch-1 doc is caught via
    the persisted signature store, an intra-batch exact duplicate pairs
    at hamming 0, a re-delivered doc_id is ignored, and a checkpoint
    replay emits nothing new (T3 effectively-once). Texts are >= the
    audio raster (520 bytes) so the single perturbed byte lands once in
    every modality's tiling."""
    import numpy as np

    from allora_indexer_spark.plans import warehouse as _wh

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    pairs_dir = str(tmp_path / "pairs")
    sig_dir = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")

    rng = np.random.RandomState(3)
    base = "".join(chr(97 + rng.randint(0, 26)) for _ in range(520))
    near = base[:50] + ("z" if base[50] != "z" else "y") + base[51:]
    other = "".join(chr(97 + rng.randint(0, 26)) for _ in range(520))
    batch1 = [(1, base), (2, other)]
    spark.createDataFrame(batch1, "doc_id LONG, text STRING").coalesce(
        1
    ).write.parquet(str(docs_dir / "b1"))
    q = stream.start_incremental_hash_near_dup(
        spark, str(docs_dir), pairs_dir, sig_dir, ckpt, modality=modality
    )
    q.awaitTermination(300)
    assert _wh.read_dir(spark, pairs_dir).count() == 0
    assert (
        _wh.read_dir(spark, sig_dir).select("doc_id").distinct().count() == 2
    )

    dup = "".join(chr(97 + rng.randint(0, 26)) for _ in range(520))
    batch2 = [(10, near), (11, dup), (12, dup), (1, base)]
    spark.createDataFrame(batch2, "doc_id LONG, text STRING").coalesce(
        1
    ).write.parquet(str(docs_dir / "b2"))
    q = stream.start_incremental_hash_near_dup(
        spark, str(docs_dir), pairs_dir, sig_dir, ckpt, modality=modality
    )
    q.awaitTermination(300)

    got = _wh.read_dir(spark, pairs_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in got}
    assert (1, 10) in pairs, "cross-batch perturbed twin missed"
    assert pairs[(11, 12)] == 0, "intra-batch exact duplicate missed"
    assert set(pairs) == {(1, 10), (11, 12)}
    sigs = _wh.read_dir(spark, sig_dir)
    assert sigs.select("doc_id").distinct().count() == 5  # redelivery dropped
    assert dict(sigs.dtypes)["bucket"] == "string"

    # kill/replay with the same checkpoint: exact convergence, no dupes
    q = stream.start_incremental_hash_near_dup(
        spark, str(docs_dir), pairs_dir, sig_dir, ckpt, modality=modality
    )
    q.awaitTermination(300)
    assert _wh.read_dir(spark, pairs_dir).count() == 2
    assert sigs.select("doc_id").distinct().count() == 5


def test_hash_near_dup_batch_replay_is_idempotent(spark, tmp_path):
    """Replaying an already-merged micro-batch through the module-level
    merge (the crash-between-appends window) converges: no duplicate
    pairs, no duplicate signatures — the same T3 contract the text
    store pins, now for the hash family."""
    from allora_indexer_spark.plans import warehouse as _wh
    from allora_indexer_spark.streaming.stream import (
        merge_hash_near_dup_batch,
    )

    pairs_dir = str(tmp_path / "pairs")
    sig_dir = str(tmp_path / "sigs")
    text = "x" * 520
    batch = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id LONG, text STRING"
    )
    merge_hash_near_dup_batch(spark, batch, pairs_dir, sig_dir)
    merge_hash_near_dup_batch(spark, batch, pairs_dir, sig_dir)  # replay
    assert _wh.read_dir(spark, pairs_dir).count() == 1
    assert (
        _wh.read_dir(spark, sig_dir).select("doc_id").distinct().count() == 2
    )


@pytest.mark.parametrize("modality", ["image", "audio"])
def test_incremental_hash_near_dup_wide_plan(spark, tmp_path, modality):
    """The streaming store follows the mih_band_plan dial like the batch
    queries do: under the WIDE (128-bit / 4x32) plan, cross-batch
    perturbed twins still pair, exact duplicates pair at hamming 0, and
    replay converges — the geometry is a store-lifetime choice carried
    by the persisted signature columns. Texts are >= the wide audio
    raster (1032 samples) so the perturbed byte lands once per tiling."""
    import numpy as np

    from allora_indexer_spark.operators.multimodal import _WIDE_PLAN
    from allora_indexer_spark.plans import warehouse as _wh

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    pairs_dir = str(tmp_path / "pairs")
    sig_dir = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")

    rng = np.random.RandomState(9)
    base = "".join(chr(97 + rng.randint(0, 26)) for _ in range(1032))
    near = base[:50] + ("z" if base[50] != "z" else "y") + base[51:]
    other = "".join(chr(97 + rng.randint(0, 26)) for _ in range(1032))
    spark.createDataFrame(
        [(1, base), (2, other)], "doc_id LONG, text STRING"
    ).coalesce(1).write.parquet(str(docs_dir / "b1"))
    q = stream.start_incremental_hash_near_dup(
        spark, str(docs_dir), pairs_dir, sig_dir, ckpt,
        modality=modality, plan=_WIDE_PLAN,
    )
    q.awaitTermination(300)
    assert _wh.read_dir(spark, pairs_dir).count() == 0

    dup = "".join(chr(97 + rng.randint(0, 26)) for _ in range(1032))
    spark.createDataFrame(
        [(10, near), (11, dup), (12, dup)], "doc_id LONG, text STRING"
    ).coalesce(1).write.parquet(str(docs_dir / "b2"))
    q = stream.start_incremental_hash_near_dup(
        spark, str(docs_dir), pairs_dir, sig_dir, ckpt,
        modality=modality, plan=_WIDE_PLAN,
    )
    q.awaitTermination(300)
    got = _wh.read_dir(spark, pairs_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in got}
    assert (1, 10) in pairs, "wide cross-batch twin missed"
    assert pairs[(11, 12)] == 0
    assert set(pairs) == {(1, 10), (11, 12)}
    # the persisted signatures carry the wide geometry's band words
    sigs = _wh.read_dir(spark, sig_dir)
    assert {"band0", "band1", "band2", "band3"} <= set(sigs.columns)
    # replay converges
    q = stream.start_incremental_hash_near_dup(
        spark, str(docs_dir), pairs_dir, sig_dir, ckpt,
        modality=modality, plan=_WIDE_PLAN,
    )
    q.awaitTermination(300)
    assert _wh.read_dir(spark, pairs_dir).count() == 2


def test_hash_store_geometry_is_persisted_and_guarded(spark, tmp_path):
    """Round-15 verdict item 3 + reviewer advice: the band geometry is a
    store-lifetime choice, and before round 16 reopening a store under a
    different plan failed SILENTLY (allowMissingColumns padded the other
    geometry's carry columns to null, hamming evaluated null, every
    old-vs-new candidate dropped). Now the geometry is written into the
    manifest at creation and a mismatched reopen raises, naming both."""
    from allora_indexer_spark.operators.multimodal import (
        _COMBO_PLAN,
        _WIDE_PLAN,
    )
    from allora_indexer_spark.plans import warehouse as _wh
    from allora_indexer_spark.streaming.stream import (
        merge_hash_near_dup_batch,
    )

    pairs_dir = str(tmp_path / "pairs")
    sig_dir = str(tmp_path / "sigs")
    batch = spark.createDataFrame(
        [(1, "x" * 1032), (2, "y" * 1032)], "doc_id LONG, text STRING"
    )
    merge_hash_near_dup_batch(spark, batch, pairs_dir, sig_dir)
    m = _wh._manifest_read(sig_dir)
    assert m is not None and m["hash_geometry"] == {
        "modality": "image",
        "bands": 4,
        "band_bits": 16,
        "carry": ["hi", "lo"],
    }
    # wrong geometry: loud, names recorded and requested
    b2 = spark.createDataFrame([(3, "z" * 1032)], "doc_id LONG, text STRING")
    with pytest.raises(ValueError, match="band_bits.*16.*FRESH store"):
        merge_hash_near_dup_batch(
            spark, b2, pairs_dir, sig_dir, plan=_WIDE_PLAN
        )
    # wrong modality under the SAME carry columns (hi/lo): equally loud —
    # an audio contour probed against image dHashes is a silent-wrong-
    # pairs regime, not a schema error
    with pytest.raises(ValueError, match="modality.*image"):
        merge_hash_near_dup_batch(
            spark, b2, pairs_dir, sig_dir, modality="audio"
        )
    # matching plan resumes normally
    merge_hash_near_dup_batch(spark, b2, pairs_dir, sig_dir)
    assert (
        _wh.read_dir(spark, sig_dir).select("doc_id").distinct().count()
        == 3
    )
    # combination-key plans are a batch dial: rejected before any I/O
    with pytest.raises(ValueError, match="match_bands"):
        merge_hash_near_dup_batch(
            spark, b2, pairs_dir, str(tmp_path / "sigs2"),
            plan=_COMBO_PLAN,
        )


def test_incremental_hash_near_dup_live_processing_time_trigger(
    spark, tmp_path
):
    """Round-15 verdict item 7: the soaks drive merge_hash_near_dup_batch
    directly and the streaming tests use availableNow — this pins the
    LIVE path: a processingTime-trigger query keeps polling the fed
    directory, a twin arriving in a LATER live trigger pairs against the
    batch-1 signature store, and pairs converge without duplicates
    across triggers."""
    import time as _time

    import numpy as np

    from allora_indexer_spark.plans import warehouse as _wh

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    pairs_dir = str(tmp_path / "pairs")
    sig_dir = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")

    rng = np.random.RandomState(21)
    base = "".join(chr(97 + rng.randint(0, 26)) for _ in range(520))
    near = base[:50] + ("z" if base[50] != "z" else "y") + base[51:]
    other = "".join(chr(97 + rng.randint(0, 26)) for _ in range(520))
    spark.createDataFrame(
        [(1, base), (2, other)], "doc_id LONG, text STRING"
    ).coalesce(1).write.parquet(str(docs_dir / "b1"))

    q = stream.start_incremental_hash_near_dup(
        spark, str(docs_dir), pairs_dir, sig_dir, ckpt,
        trigger={"processingTime": "1 seconds"},
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if (
                os.path.isdir(sig_dir)
                and _wh._manifest_read(sig_dir) is not None
                and _wh.read_dir(spark, sig_dir)
                .select("doc_id").distinct().count() == 2
            ):
                break
            _time.sleep(0.5)
        else:
            raise AssertionError("batch 1 never landed in the sig store")
        # feed the twin while the query is LIVE — no restart
        spark.createDataFrame(
            [(10, near)], "doc_id LONG, text STRING"
        ).coalesce(1).write.parquet(str(docs_dir / "b2"))
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if (
                os.path.isdir(pairs_dir)
                and _wh._manifest_read(pairs_dir) is not None
                and _wh.read_dir(spark, pairs_dir).count() >= 1
            ):
                break
            _time.sleep(0.5)
        got = {
            (r["doc_a"], r["doc_b"])
            for r in _wh.read_dir(spark, pairs_dir).collect()
        }
        assert got == {(1, 10)}, got
        # give the live trigger a couple more cycles: no duplicate pairs
        _time.sleep(3)
        assert _wh.read_dir(spark, pairs_dir).count() == 1
    finally:
        q.stop()
