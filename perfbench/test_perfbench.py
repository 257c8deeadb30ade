"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The fast tests need no Spark. ``test_tiny_run_prints_every_metric`` runs
each workload in its tiny configuration (analytics at sf0.001, a few dozen
blocks) and the sink-check tests start one local session, so the whole file
takes several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import chainfeed  # noqa: E402
import checks  # noqa: E402
import eventlog  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402


# -- fast: no Spark ---------------------------------------------------------

def test_feed_is_deterministic_and_covers_every_kind(tmp_path):
    a = chainfeed.FeedWriter(str(tmp_path / "a"), seed=7)
    b = chainfeed.FeedWriter(str(tmp_path / "b"), seed=7)
    hs = list(range(chainfeed.FIRST_HEIGHT, chainfeed.FIRST_HEIGHT + 30))
    for w in (a, b):
        w.write(hs[:15])
        w.write(hs[15:] + [hs[3]])  # the last height is a re-delivery
    for d in ("blocks", "block_results"):
        for name in os.listdir(tmp_path / "a" / d):
            assert (tmp_path / "a" / d / name).read_bytes() == (
                tmp_path / "b" / d / name
            ).read_bytes()
    exp = a.expectations()
    assert exp["heights"] == hs
    assert exp["deliveries"] == 31
    assert set(exp["kinds"]) == set(chainfeed.MESSAGE_KINDS + chainfeed.EVENT_KINDS)
    payloads = sum(v for k, v in exp["kinds"].items() if "Payload" in k)
    assert payloads > sum(
        v for k, v in exp["kinds"].items() if k.startswith("Msg") and "Payload" not in k
    )


def test_frame_digest_ignores_row_order_and_null_spelling():
    import numpy as np
    import pandas as pd

    x = pd.DataFrame({"a": [1, 2, None], "b": ["u", "v", "w"]})
    y = pd.DataFrame({"b": ["w", "v", "u"], "a": [np.nan, 2.0, 1.0]})
    assert checks.frame_digest(x) == checks.frame_digest(y)
    z = y.assign(a=[np.nan, 2.0, 1.5])
    assert checks.frame_digest(x) != checks.frame_digest(z)


def test_self_time_subtracts_the_union_of_children():
    tr = tracing.Tracer()
    tr.spans = [
        {"id": 1, "name": "root", "parent": None, "trace": "t", "start": 0.0, "end": 10.0},
        {"id": 2, "name": "a", "parent": 1, "trace": "t", "start": 1.0, "end": 4.0},
        {"id": 3, "name": "b", "parent": 1, "trace": "t", "start": 3.0, "end": 6.0},
        {"id": 4, "name": "c", "parent": 1, "trace": "t", "start": 8.0, "end": 12.0},
    ]
    selfs = tr.self_times()
    assert selfs[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert selfs[2] == pytest.approx(3.0)


def test_assign_traces_uses_the_trigger_window():
    tr = tracing.Tracer()
    with tr.span("ingest.decode"):
        pass
    sp = tr.spans[0]
    tr.assign_traces([
        ("event:3", sp["start"] - 3, sp["start"] - 2),
        ("event:4", sp["start"] - 1, sp["end"] + 1),
    ])
    assert sp["trace"] == "event:4"
    root = [s for s in tr.spans if s["name"] == "stream.trigger" and s["trace"] == "event:4"]
    assert sp["parent"] == root[0]["id"]


def test_traced_insert_leaves_storage_counts_unchanged(tmp_path, monkeypatch):
    sys.path.insert(0, ROOT)
    import worker
    from allora_indexer_spark.plans import warehouse
    from allora_indexer_spark.plans.storage import InMemoryManifestStorage

    storage = tracing.ConflictCountingStorage(InMemoryManifestStorage())
    monkeypatch.setattr(warehouse, "STORAGE", storage)
    calls = []
    monkeypatch.setattr(warehouse, "write_insert_if_absent",
                        lambda spark, df, root, name, key_span=None: calls.append(name))
    tr = tracing.Tracer()
    worker.install(tr, storage)
    try:
        before = storage.snapshot()
        warehouse.write_insert_if_absent(None, None, str(tmp_path), "events")
    finally:
        tr.restore()
    assert calls == ["events"]
    assert storage.snapshot() == before
    (sp,) = [s for s in tr.spans if s["name"] == "warehouse.insert"]
    assert sp["table"] == "events" and sp["existed"] is False


def test_eventlog_counts_jobs_stages_and_tasks_per_window(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500,
         "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 250, "Executor CPU Time": 2 * 10**8,
            "JVM GC Time": 10, "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000,
         "Stage IDs": [2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 1}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n{cut")
    out = eventlog.read(str(tmp_path), {"w": (1.0, 2.0), "all": (0.0, 10.0)})
    w = out["w"]
    assert (w["jobs"], w["stages"], w["tasks"]) == (1, 1, 1)
    assert (w["input_bytes"], w["shuffle_read_bytes"], w["shuffle_write_bytes"]) == (100, 3, 3)
    assert w["executor_run_s"] == pytest.approx(0.25)
    assert w["executor_cpu_s"] == pytest.approx(0.2)
    assert out["all"]["jobs"] == 2 and out["all"]["tasks"] == 2


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.E2E
    assert [m["name"] for m in bench["per_layer"]] == metrics.PER_LAYER_NAMES
    for m in bench["per_layer"]:
        assert m["unit"] == metrics.unit_of(m["name"])
    assert len(metrics.PER_LAYER_NAMES) <= 128
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_headline_list_matches_bench_py():
    sys.path.insert(0, ROOT)
    from bench import HEADLINE

    assert tuple(HEADLINE) == metrics.HEADLINE


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "follow", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# -- slow: Spark ------------------------------------------------------------

@pytest.mark.parametrize("workload", metrics.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "5", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    names = metrics.PER_LAYER_NAMES if trace else list(metrics.E2E)
    assert list(res["metrics"]) == names
    for name, m in res["metrics"].items():
        assert m["unit"] == metrics.unit_of(name)
        assert isinstance(m["value"], float)
    if not trace:
        for m in res["metrics"].values():
            assert m["value"] > 0
        aliases = metrics.ALIASES[workload]
        for name, unit in metrics.E2E.items():
            assert any(
                line.startswith(f"{aliases.get(name, name)} = ") and line.endswith(unit)
                for line in lines
            )


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    from allora_indexer_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _ingest(spark, root, files, sink: str):
    """Write ``files`` (lists of heights) as a feed and stream it into a
    fresh warehouse, one file per micro-batch."""
    from allora_indexer_spark.streaming import stream

    feed = chainfeed.FeedWriter(os.path.join(root, "feed"), seed=5)
    for heights in files:
        feed.write(heights)
    wh = os.path.join(root, "warehouse")
    start = stream.start_block_ingest if sink == "block" else stream.start_event_ingest
    src = feed.blocks_dir if sink == "block" else feed.results_dir
    q = start(spark, src, wh, os.path.join(root, "ckpt"), max_files_per_trigger=1)
    q.awaitTermination(300)
    assert q.exception() is None
    return feed, wh


def test_sink_check_fails_when_an_expected_height_is_removed(spark, tmp_path):
    h = chainfeed.FIRST_HEIGHT
    feed, wh = _ingest(spark, str(tmp_path), [[h, h + 1, h + 2], [h + 3, h + 1]], "event")
    heights = feed.expectations()["heights"]
    n, failures = checks.check_sink_tables(
        spark, wh, feed.blocks_dir, feed.results_dir, heights, ("event",), 2)
    assert n == 13 and failures == []
    n, failures = checks.check_sink_tables(
        spark, wh, feed.blocks_dir, feed.results_dir, heights[1:], ("event",), 2)
    assert failures == ["events: 1 unexpected and 0 missing heights"]


@pytest.mark.xfail(strict=True, reason=(
    "topics: ingest.topics numbers a batch's creates from the max id below the "
    "batch's lowest create height, so a re-delivered older create sharing a "
    "batch with a newer one reuses a stored id and the newer topic is dropped"
))
def test_redelivered_topic_create_keeps_every_topic(spark, tmp_path):
    h = chainfeed.FIRST_HEIGHT  # heights h .. h+5 and h+97 create topics
    feed, wh = _ingest(spark, str(tmp_path), [[h, h + 1], [h + 97, h]], "block")
    _, failures = checks.check_sink_tables(
        spark, wh, feed.blocks_dir, feed.results_dir,
        feed.expectations()["heights"], ("block",), 2)
    assert failures == []
