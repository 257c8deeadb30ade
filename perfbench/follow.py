"""The ``follow`` workload: an open loop that keeps the warehouse at the
chain tip.

Set-up backfills a prefix of the feed into a fresh warehouse with the
event sink stream in ``availableNow`` mode. This is the catch-up path, in
multi-block micro-batches. The measured phase then restarts the sink on a
``processingTime`` trigger over the same checkpoint. One generator thread
writes one block file and its block_results file per tick at a fixed rate.
Every ``REDELIVER_EVERY``-th tick also carries an earlier height again, like
an at-least-once source re-queuing a height.

A block's freshness is the time from when the generator was due to write it
until the sink trigger that read it committed. The file-to-batch map and
the commit times are read from the query's checkpoint, from outside the
engine.

Only the event sink is followed. Both sinks together cost about 100 s a run
on a 4-core box (a cold precreate of the 24 tables alone is near 40 s),
which does not fit the run budget next to the analytics workload; the event
sink alone covers every warehouse write path (insert, keep-one upsert,
probe).
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time

from chainfeed import FIRST_HEIGHT, FeedWriter
from metrics import p90

PREFIX_BLOCKS = 10
PREFIX_PER_FILE = 10
MAX_FILES_PER_TRIGGER = 2
# The lowest whole rate that puts 100 due blocks in the 18 s window of
# BENCHMARK.json, so that p90 has ten samples beyond it, and so the smallest
# batches (about 35 blocks a trigger). A trigger of the event sink costs
# 5-7 s on a 4-core box whatever its size, so the window and the drain hold
# four to six commits at any rate. The backlog's sawtooth peaks at the same
# height through the window at 4 and 10 blocks/s; at 20 blocks/s it climbs.
RATE_PER_S = 6.0
POLL_INTERVAL = "1 second"
REDELIVER_EVERY = 10
REDELIVER_WINDOW = 60
DRAIN_TIMEOUT_S = 60.0
BACKLOG_SAMPLE_S = 1.0


class Checkpoint:
    """Which batch consumed each feed file, and when each batch committed,
    read from a streaming query's checkpoint directory."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.file_batch: dict[str, int] = {}
        self._read_logs: set[str] = set()

    def refresh(self) -> dict[int, float]:
        src = os.path.join(self.path, "sources", "0")
        for name in sorted(os.listdir(src)) if os.path.isdir(src) else []:
            if name.startswith(".") or name in self._read_logs:
                continue
            with open(os.path.join(src, name)) as fh:
                for line in fh:
                    if not line.startswith("{"):
                        continue
                    entry = json.loads(line)
                    base = os.path.basename(entry["path"])
                    self.file_batch.setdefault(base, entry["batchId"])
            self._read_logs.add(name)
        commits = os.path.join(self.path, "commits")
        out = {}
        for name in os.listdir(commits) if os.path.isdir(commits) else []:
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(commits, name)).st_mtime
        return out

    def committed_at(self, commits: dict[int, float], file_name: str):
        b = self.file_batch.get(file_name)
        return commits.get(b) if b is not None else None


def _start(ctx, feed, wh: str, ckpt: str, available_now: bool):
    from allora_indexer_spark.streaming import stream

    return stream.start_event_ingest(
        ctx.spark, feed.results_dir, wh, ckpt,
        available_now=available_now, poll_interval=POLL_INTERVAL,
        max_files_per_trigger=MAX_FILES_PER_TRIGGER if available_now else None,
    )


def _raise_if_failed(query) -> None:
    if query.exception() is not None:
        raise RuntimeError(f"sink query failed: {query.exception()}")


def _backfill_prefix(ctx, root: str):
    feed = FeedWriter(os.path.join(root, "feed"), ctx.seed)
    hs = list(range(FIRST_HEIGHT, FIRST_HEIGHT + PREFIX_BLOCKS))
    for k in range(0, len(hs), PREFIX_PER_FILE):
        feed.write(hs[k:k + PREFIX_PER_FILE])
    wh = os.path.join(root, "warehouse")
    ckpt = os.path.join(root, "ckpt")
    from allora_indexer_spark.streaming import stream

    t = time.perf_counter()
    stream.precreate_event_tables(ctx.spark, wh)
    ctx.log(f"precreate {time.perf_counter() - t:.2f} s")
    t = time.perf_counter()
    query = _start(ctx, feed, wh, ckpt, available_now=True)
    query.awaitTermination()
    _raise_if_failed(query)
    ctx.log(f"prefix backfill {time.perf_counter() - t:.2f} s")
    return feed, wh, ckpt, list(query.recentProgress)


def _wait_idle(query, timeout: float = 60.0) -> None:
    """Until the restarted sink is idle or has reported progress."""
    end = time.time() + timeout
    while time.time() < end:
        _raise_if_failed(query)
        if query.lastProgress is not None or "Waiting" in query.status["message"]:
            return
        time.sleep(0.05)
    raise RuntimeError("sink query did not start")


def _follow_phase(ctx, feed, wh, ckpt, first_height: int, seconds: float):
    """One measured open-loop phase; returns its raw observations."""
    t = time.perf_counter()
    query = _start(ctx, feed, wh, ckpt, available_now=False)
    _wait_idle(query)
    ctx.log(f"sink started {time.perf_counter() - t:.2f} s")
    rng = random.Random(ctx.seed * 7919 + first_height)
    due: dict[int, float] = {}
    file_of: dict[int, str] = {}
    late = [0.0]
    delivered = [0]

    t0 = time.time() + 0.2
    rate = RATE_PER_S
    n_ticks = max(1, int(seconds * rate))

    def generate() -> None:
        for k in range(n_ticks):
            when = t0 + k / rate
            pause = when - time.time()
            if pause > 0:
                time.sleep(pause)
            h = first_height + k
            heights = [h]
            if k % REDELIVER_EVERY == REDELIVER_EVERY - 1:
                lo = max(FIRST_HEIGHT, h - REDELIVER_WINDOW)
                heights.append(rng.randrange(lo, h))
            path, _ = feed.write(heights)
            delivered[0] += len(heights)
            file_of[h] = os.path.basename(path)
            due[h] = when
            late[0] = max(late[0], time.time() - when)

    cp = Checkpoint(ckpt)

    def commit_times():
        commits = cp.refresh()
        out = {}
        for h, name in list(file_of.items()):
            t = cp.committed_at(commits, name)
            if t is not None:
                out[h] = t
        return out

    gen = threading.Thread(target=generate, name="feed-generator")
    gen.start()
    # the backlog (due blocks not yet committed) once a second: flat when
    # the sink keeps up with the offered rate
    backlog = []
    while gen.is_alive():
        gen.join(BACKLOG_SAMPLE_S)
        if gen.is_alive():
            backlog.append(len(due) - len(commit_times()))
    t_end = time.time()
    backlog_end = len(due) - len(commit_times())

    deadline = time.time() + DRAIN_TIMEOUT_S
    done = commit_times()
    while len(done) < len(due) and time.time() < deadline:
        _raise_if_failed(query)
        time.sleep(0.1)
        done = commit_times()
    drain_s = time.time() - t_end
    progress = list(query.recentProgress)
    query.stop()
    _raise_if_failed(query)
    fresh = [done[h] - due[h] for h in sorted(due) if h in done]
    return {
        "due": len(due),
        "uncommitted": len(due) - len(done),
        "fresh": fresh,
        "backlog": backlog,
        "backlog_end": backlog_end,
        "drain_s": drain_s,
        "generator_late_max_s": late[0],
        "progress": progress,
        "next_height": first_height + n_ticks,
        "delivered": delivered[0],
    }


def _e2e(obs) -> dict[str, float]:
    fresh = obs["fresh"]
    if not fresh:
        raise RuntimeError("no due block was committed")
    return {"latency_p50_s": statistics.median(fresh), "latency_p90_s": p90(fresh)}


def _triggers(progress) -> list[dict]:
    """Progress reports of the triggers that read data."""
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def _trigger_p50(obs) -> float:
    ds = [p["durationMs"].get("triggerExecution", 0) / 1000.0
          for p in _triggers(obs["progress"])]
    return statistics.median(ds) if ds else 0.0


def _sink_rate(obs) -> float:
    """Deliveries the sink committed per second of trigger time, at this
    workload's batch size. Not the sink's capacity: a trigger's cost is
    mostly fixed, so larger batches raise it."""
    busy = sum(p["durationMs"].get("triggerExecution", 0)
               for p in _triggers(obs["progress"]))
    return obs["delivered"] / (busy / 1000.0) if busy else 0.0


def _blocks_per_trigger(obs) -> float:
    """Deliveries (new and re-delivered heights) per trigger that read
    data; the progress' numInputRows counts every re-scan of the batch
    frame instead."""
    return obs["delivered"] / max(len(_triggers(obs["progress"])), 1)


def _trigger_windows(progress, prefix: str = "") -> list[tuple[str, float, float]]:
    """(trace id, start, end) of every trigger that read data."""
    from datetime import datetime

    out = []
    for p in _triggers(progress):
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        dur = p["durationMs"].get("triggerExecution", 0) / 1000.0
        out.append((f"{prefix}event:{p['batchId']}", start, start + dur))
    return out


def run(ctx) -> dict:
    from allora_indexer_spark.streaming.stream import EVENT_SINK_TABLES

    import box
    import checks

    # set-up once: a second round would cost a fresh warehouse's table
    # creation again, which the run budget has no room for
    t = time.perf_counter()
    with ctx.phase("setup"):
        feed, wh, ckpt, setup_progress = _backfill_prefix(
            ctx, os.path.join(ctx.state, "setup")
        )
    ctx.setup_s = time.perf_counter() - t
    ctx.log(f"set-up {ctx.setup_s:.2f} s")

    next_h = FIRST_HEIGHT + PREFIX_BLOCKS
    with box.PeakRss() as rss:
        obs = _follow_phase(ctx, feed, wh, ckpt, next_h, ctx.seconds)
    ctx.peak_rss_mb = rss.mb
    e2e = _e2e(obs)
    ctx.log(f"follow phase: {json.dumps(e2e)} drain {obs['drain_s']:.2f} s")
    traced = None
    if ctx.trace:
        with ctx.phase("measure") as window:
            traced = _follow_phase(ctx, feed, wh, ckpt, obs["next_height"], ctx.seconds)
            # read when the phase closes: the per-trigger divisor of the
            # phase's storage and engine counters
            window["units"] = len(_triggers(traced["progress"]))
        ctx.tracer.assign_traces(
            _trigger_windows(setup_progress, prefix="setup-")
            + _trigger_windows(traced["progress"])
        )

    t = time.perf_counter()
    n_checks, failures = checks.check_sink_tables(
        ctx.spark, wh, feed.blocks_dir, feed.results_dir,
        feed.expectations()["heights"], ("event",), ctx.cores,
    )
    check_s = time.perf_counter() - t
    ctx.log(f"sink check: {check_s:.2f} s, {len(failures)} failures")
    phases = [obs] + ([traced] if traced else [])
    uncommitted = sum(o["uncommitted"] for o in phases)
    result = {
        "attempted": sum(o["due"] for o in phases) + n_checks,
        "failed": uncommitted + len(failures),
        "failures": failures,
        "e2e": e2e,
        "info": {
            "rate_per_s": RATE_PER_S,
            "poll_interval": POLL_INTERVAL,
            "redeliver_share": 1 / REDELIVER_EVERY,
            "prefix_blocks": PREFIX_BLOCKS,
            "due_blocks": obs["due"],
            "uncommitted_blocks": uncommitted,
            "backlog_blocks": obs["backlog"],
            "backlog_end_blocks": obs["backlog_end"],
            "drain_s": obs["drain_s"],
            "generator_late_max_s": obs["generator_late_max_s"],
            "triggers": len(_triggers(obs["progress"])),
            "blocks_per_trigger": _blocks_per_trigger(obs),
            "trigger_p50_s": _trigger_p50(obs),
            "sink_blocks_per_s": _sink_rate(obs),
            "check_s": check_s,
            "feed": feed.expectations()["kinds"],
            "sink_tables": len(EVENT_SINK_TABLES),
        },
    }
    if traced:
        result["traced_e2e"] = _e2e(traced)
        result["layers"] = _layers(ctx, traced)
    return result


def _layers(ctx, obs) -> dict[str, float]:
    tr = ctx.tracer
    trig = _triggers(obs["progress"])
    n = max(len(trig), 1)

    def phase_sum(key):
        return sum(p["durationMs"].get(key, 0) for p in trig) / 1000.0 / n

    def in_triggers(name):
        return [s for s in tr.spans if s["name"] == name and s["trace"] is not None
                and not str(s["trace"]).startswith("setup")]

    built = in_triggers("ingest.build_plans")
    inserts = in_triggers("warehouse.insert")
    probes = {s["parent"] for s in in_triggers("warehouse.probe")}
    existed = [s for s in inserts if s.get("existed")]
    skipped = [s for s in existed if s["id"] not in probes]
    out = {
        "stream.precreate_s": tr.total("stream.precreate")[1],
        "stream.triggers": len(trig),
        "stream.blocks_per_trigger": _blocks_per_trigger(obs),
        "stream.backlog_end_blocks": obs["backlog_end"],
        "stream.trigger_p50_s": _trigger_p50(obs),
        "stream.sink_blocks_per_s": _sink_rate(obs),
        "stream.add_batch_s": phase_sum("addBatch"),
        "stream.latest_offset_s": phase_sum("latestOffset"),
        "stream.get_batch_s": phase_sum("getBatch"),
        "stream.query_planning_s": phase_sum("queryPlanning"),
        "stream.wal_commit_s": phase_sum("walCommit"),
        "stream.commit_offsets_s": phase_sum("commitOffsets"),
        "ingest.decode_s": _sum(in_triggers("ingest.decode")) / n,
        "ingest.presence_s": _sum(in_triggers("ingest.presence")) / n,
        "ingest.build_plans_s": _sum(built) / n,
        "ingest.span_s": _sum(in_triggers("ingest.span")) / n,
        "ingest.prune_ratio": (
            statistics.mean(s["built"] / s["sink_tables"] for s in built) if built else 0.0
        ),
        "warehouse.write_tables_s": _sum(in_triggers("warehouse.write_tables")) / n,
        "warehouse.insert_calls": len(inserts) / n,
        "warehouse.insert_s": _sum(inserts) / n,
        "warehouse.keep_one_calls": len(in_triggers("warehouse.keep_one")) / n,
        "warehouse.keep_one_s": _sum(in_triggers("warehouse.keep_one")) / n,
        "warehouse.probe_calls": len(probes) / n,
        "warehouse.probe_s": _sum(in_triggers("warehouse.probe")) / n,
        "warehouse.probe_skip_ratio": len(skipped) / len(existed) if existed else 0.0,
        "follow.generator_late_max_s": obs["generator_late_max_s"],
    }
    return out


def _sum(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)
