"""Bounded in-suite soak of the writer's maintenance rule: ~100
micro-batches through write_insert_if_absent with a small manifest bound,
so several folds AND several whole-table compactions land inside the
test, with no operator in the loop. Pins the three claims the LSM design
makes (the full ~10^3-batch curve lives in tools/soak.py, run
out-of-band):

- per-batch cost stays FLAT (no O(appends) creep between maintenance);
- no write leaves more than APPEND_MANIFEST_WARN manifest entries;
- majors land at the predicted (WARN+2)(WARN-1)/2 + 1 cadence — the
  autovacuum analog the reference gets for free from Postgres.
"""

from __future__ import annotations

import os
import statistics
import time

import pytest

from pyspark.sql import functions as F

from allora_indexer_spark.plans import warehouse


def _blocks(spark, lo: int, n: int):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("height"),
        F.concat(F.lit("hash"), F.col("id")).alias("block_hash"),
    )


@pytest.mark.soak
def test_append_soak_flat_cost_bounded_manifest(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(warehouse, "APPEND_MANIFEST_WARN", 5)
    monkeypatch.setattr(warehouse, "_GC_GRACE_SEC", 5.0)
    root = str(tmp_path / "wh")
    path = os.path.join(root, "block_info")
    rows = 3
    warehouse.write_insert_if_absent(spark, _blocks(spark, 0, rows), root, "block_info")
    warehouse.compact(spark, path, target_partitions=1)

    n_batches = 100
    times: list[float] = []
    majors: list[int] = []
    max_entries = 0
    base = warehouse._manifest_read(path)["data"]["all"]
    for i in range(1, n_batches + 1):
        t0 = time.perf_counter()
        warehouse.write_insert_if_absent(
            spark, _blocks(spark, i * rows, rows), root, "block_info"
        )
        times.append(time.perf_counter() - t0)
        m = warehouse._manifest_read(path)
        max_entries = max(max_entries, len(m["data"]))
        if m["data"].get("all") != base:  # the writer compacted
            base = m["data"]["all"]
            majors.append(i)

    # no rows lost across ~100 maintenance-interleaved appends
    out = warehouse.read_table(spark, root, "block_info")
    assert out.count() == (n_batches + 1) * rows
    assert out.select("height").distinct().count() == (n_batches + 1) * rows

    # manifest entries bounded by the rule — far below the 100+ an
    # unmaintained table would carry
    assert max_entries <= warehouse.APPEND_MANIFEST_WARN, max_entries

    # major cadence: base + WARN-1 fold tiers fill the bound after
    # (WARN+2)(WARN-1)/2 appends, and the next one compacts
    w = warehouse.APPEND_MANIFEST_WARN
    cadences = [b - a for a, b in zip([0] + majors, majors)]
    assert cadences == [(w + 2) * (w - 1) // 2 + 1] * len(majors), cadences
    assert len(majors) >= 5, majors

    # flat per-batch cost: median of the last quarter within 2.5x of the
    # median of the first quarter (warmup excluded; the bound is loose
    # because the suite shares the machine, but O(appends) growth over
    # 100 batches would blow far past it)
    body = times[10:]
    q = len(body) // 4
    first, last = statistics.median(body[:q]), statistics.median(body[-q:])
    assert last < 2.5 * first, (first, last, majors)

    # history/versions: GC keeps them near the retention horizon once the
    # grace window passes — wait it out, vacuum, and check
    time.sleep(warehouse._GC_GRACE_SEC + 0.5)
    warehouse.vacuum(path)
    mdir = os.path.join(path, warehouse._MANIFESTS_DIR)
    assert len(os.listdir(mdir)) <= warehouse.UPSERT_RETAIN_VERSIONS + 2
    assert len(warehouse._version_paths(path)) <= (
        warehouse.UPSERT_RETAIN_VERSIONS + warehouse.APPEND_MANIFEST_WARN + 2
    )
    # and the table still reads exactly right after the full cycle
    assert warehouse.read_table(spark, root, "block_info").count() == (
        (n_batches + 1) * rows
    )


@pytest.mark.soak
def test_operatorless_backfill_escalates_to_inline_major(
    spark, tmp_path, monkeypatch
):
    """An unattended backfill with NO operator in the loop (nobody runs
    compact()) must keep manifest entries bounded: once the fold tiers
    fill APPEND_MANIFEST_WARN, the append compacts the whole table
    INLINE. Before the writer compacted, the 1,000-batch soak's
    200-batch operator-less resume piled up ~99 manifest entries with
    per-append probe overhead growing every version. Also pins that the
    inline major preserves the recorded sizing (it must not flatten the
    table to 1 partition) and that the idempotent-writer contract
    survives the inline rewrites."""
    monkeypatch.setattr(warehouse, "APPEND_MANIFEST_WARN", 3)
    root = str(tmp_path / "wh")
    path = os.path.join(root, "block_info")
    rows = 3
    warehouse.write_insert_if_absent(
        spark, _blocks(spark, 0, rows), root, "block_info"
    )
    warehouse.compact(spark, path, target_partitions=2)

    n_batches = 60
    times: list[float] = []
    entries_after: list[int] = []
    for i in range(1, n_batches + 1):
        t0 = time.perf_counter()
        warehouse.write_insert_if_absent(
            spark, _blocks(spark, i * rows, rows), root, "block_info"
        )
        times.append(time.perf_counter() - t0)
        m = warehouse._manifest_read(path)
        entries_after.append(len(m["data"]))

    # bounded WITHOUT any operator action
    assert max(entries_after) <= warehouse.APPEND_MANIFEST_WARN, entries_after
    # at least one inline major actually ran: only a major collapses the
    # manifest back to the single base entry mid-run
    assert any(e == 1 for e in entries_after[3:]), entries_after

    # the inline majors preserved the operator-chosen sizing (tp=2), and
    # the base was rewritten under the probe-preserving range_by default
    m = warehouse._manifest_read(path)
    assert m.get("layout") == {"target_partitions": 2}
    (h,) = [
        r for r in warehouse.table_health(root) if r["table"] == "block_info"
    ]
    assert h["probe_pruning"] == "clustered"

    # no rows lost, no duplicates across the maintenance-interleaved run
    out = warehouse.read_table(spark, root, "block_info")
    assert out.count() == (n_batches + 1) * rows
    assert out.select("height").distinct().count() == (n_batches + 1) * rows

    # flat per-batch cost: median of the last quarter within 2.5x of the
    # first quarter (loose — shared machine — but O(entries) creep at
    # ~99 entries would blow far past it)
    body = times[5:]
    q = len(body) // 4
    first, last = statistics.median(body[:q]), statistics.median(body[-q:])
    assert last < 2.5 * first, (first, last)

    # replay after the inline rewrites stays effectively-once
    warehouse.write_insert_if_absent(
        spark, _blocks(spark, rows, rows), root, "block_info"
    )
    assert warehouse.read_table(spark, root, "block_info").count() == (
        (n_batches + 1) * rows
    )
