"""One workload in one process: start the session, run the workload, write
its result as JSON. ``run.py`` starts this file and owns its output; run
``python3 perfbench/run.py --help`` instead of calling it directly."""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback

import box


class Ctx:
    """What a workload needs: the session, its arguments, a private state
    directory, and (in a traced run) the tracer and metered storage."""

    def __init__(self, args, spark, cores: int) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tiny = args.tiny
        self.state = args.state
        self.cores = cores
        self.tracer = None
        self.storage = None
        self.windows: dict[str, tuple[float, float]] = {}
        self.units: dict[str, int] = {}
        self.storage_ops: dict[str, dict[str, int]] = {}
        self.setup_s = 0.0  # set by the workload: its set-up after session start
        self.peak_rss_mb = 0.0  # set by the workload: over its measured phase

    def log(self, msg: str) -> None:
        """A timestamped progress line in the worker log."""
        print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", flush=True)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Trace a phase: wrappers are installed only inside it (traced runs
        only), and its time window feeds the engine counters."""
        info: dict = {}
        if not self.trace:
            yield info
            return
        import tracing

        from allora_indexer_spark.plans import warehouse

        inner = warehouse.STORAGE
        if self.storage is None:
            self.storage = tracing.ConflictCountingStorage(inner)
        else:
            self.storage.inner = inner
        self.tracer = self.tracer or tracing.Tracer()
        install(self.tracer, self.storage)
        warehouse.STORAGE = self.storage
        ops0, conflicts0 = self.storage.snapshot(), self.storage.conflicts
        t0 = time.time()
        try:
            with self.tracer.span(f"phase.{name}", trace=name):
                yield info
        finally:
            warehouse.STORAGE = inner
            self.tracer.restore()
            self.windows[name] = (t0, time.time())
            self.units[name] = info.get("units", 0)
            self.storage_ops[name] = {
                **self.storage.delta(ops0),
                "cas_conflicts": self.storage.conflicts - conflicts0,
            }


def install(tracer, storage) -> None:
    """Wrap the public functions whose time the per-layer metrics report.
    ``storage`` is the metered ``warehouse.STORAGE`` of the traced phase;
    the insert wrapper's existence probe reads it uncounted."""
    from allora_indexer_spark import tables
    from allora_indexer_spark.plans import ingest, warehouse
    from allora_indexer_spark.streaming import stream

    def table_arg(args, kwargs):
        return {"table": args[3]}

    def insert_attrs(args, kwargs):
        with storage.uncounted():
            existed = warehouse.table_exists(args[2], args[3])
        return {"table": args[3], "existed": existed}

    def built(result):
        return {"built": len(result), "sink_tables": len(stream.EVENT_SINK_TABLES)}

    tracer.patch(stream, "precreate_event_tables", "stream.precreate")
    tracer.patch(ingest, "flat_events", "ingest.decode")
    tracer.patch(ingest, "present_event_tables", "ingest.presence")
    tracer.patch(ingest, "build_tables_for_events", "ingest.build_plans",
                 after=lambda sp, result: sp.update(built(result)))
    tracer.patch(ingest, "batch_height_span", "ingest.span")
    tracer.patch(warehouse, "write_tables", "warehouse.write_tables",
                 holds=lambda a, k: list(a[1]))
    tracer.patch(warehouse, "write_insert_if_absent", "warehouse.insert",
                 attrs_of=insert_attrs)
    tracer.patch(warehouse, "write_keep_one", "warehouse.keep_one", attrs_of=table_arg)
    tracer.patch(warehouse, "existing_keys_in_range", "warehouse.probe",
                 attrs_of=table_arg)
    tracer.patch(tables, "load_table", "tables.load_table")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--state", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args()

    import eventlog

    cores = box.nproc()
    load0, jiffies0 = box.loadavg_1m(), box.cpu_jiffies()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the heap is committed at its cap from the start, so the resident
        # memory does not step with the collector's heap resizing
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
        ),
    }
    log_dir = os.path.join(args.state, "eventlog")
    if args.trace:
        conf.update(eventlog.conf(log_dir))

    t = time.perf_counter()
    from allora_indexer_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t
    ctx = Ctx(args, spark, cores)
    ctx.log(f"session start {session_start_s:.2f} s")
    import analytics
    import follow

    workloads = {"follow": follow.run, "analytics": analytics.run}
    try:
        res = workloads[args.workload](ctx)
    except Exception as ex:  # reported as a failed run, with its traceback
        traceback.print_exc()
        res = {"attempted": 1, "failed": 1, "failures": [f"workload raised: {ex}"],
               "e2e": {}}
    res["e2e"]["setup_s"] = session_start_s + ctx.setup_s
    res["e2e"]["peak_rss_mb"] = ctx.peak_rss_mb
    layers = res.setdefault("layers", {})
    layers["session.start_s"] = session_start_s
    spark.stop()
    ctx.log("session stopped")

    if args.trace:
        windows = {k: v for k, v in ctx.windows.items() if k != "setup"}
        windows.update(res.pop("counter_windows", {}))
        counters = eventlog.read(log_dir, windows)
        res["counters"] = counters
        res["units"] = ctx.units
        if ctx.tracer is not None:
            ctx.tracer.dump(os.path.join(args.state, "spans.jsonl"))
            layers["trace.spans"] = len(ctx.tracer.spans)
        res["storage"] = ctx.storage_ops
    res["stamp"] = {
        "nproc": cores,
        "local_cores": cores,
        "loadavg_1m_start": load0,
        "loadavg_1m": box.loadavg_1m(),
        "busy_frac": box.busy_frac(jiffies0, box.cpu_jiffies()),
    }
    with open(args.out, "w") as fh:
        json.dump(res, fh, default=str)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main())
