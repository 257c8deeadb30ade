"""The benchmark's metric catalogue and the assembly of a run's result.

``E2E`` are the end-to-end metrics of an untraced run, ``PER_LAYER`` those
of a traced run; both are printed for every workload. A layer a workload
does not exercise reports 0 there (the analytics workload runs no ingest,
the follow workload no registry query).
"""

from __future__ import annotations

import statistics

from eventlog import COUNTERS as SPARK_COUNTERS

WORKLOADS = ("follow", "analytics")

E2E = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}

# what each workload's end-to-end metrics are called in its own terms
ALIASES = {
    "follow": {
        "latency_p50_s": "follow_fresh_p50_s",
        "latency_p90_s": "follow_fresh_p90_s",
    },
    "analytics": {
        "latency_p50_s": "analytics_sweep_s",
        "latency_p90_s": "analytics_sweep_p90_s",
    },
}

HEADLINE = (
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q03_top_orders_by_segment",
    "q06_revenue_filter",
    "q08_left_join_order_counts",
    "q09_topk_orders_per_customer",
    "q10_running_user_value",
    "q18_tumbling_window_10m",
    "q23_range_join_ship_lag",
    "q30_token_stats",
    "q41_minhash_lsh_dedup",
    "q51_knn_bruteforce",
    "q97_duplicated_span_stats",
    "q98_sessionization",
    "q99zq_global_shuffle_batches",
    "q99zr_winnowing_fingerprints",
    "q99zs_padding_waste_audit",
)

# engine counters are also reported per execution of these queries
COUNTER_QUERIES = {
    "q41": "q41_minhash_lsh_dedup",
    "q99zr": "q99zr_winnowing_fingerprints",
    "q97": "q97_duplicated_span_stats",
    "q01": "q01_pricing_summary",
}
QUERY_COUNTERS = (
    "jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "executor_run_s", "executor_cpu_s",
)
STORAGE_OPS = ("publish", "read_current", "list_history", "delete_history",
               "cas_conflicts")


def _per_layer_names() -> list[str]:
    names = ["session.start_s", "registry.construct_s", "registry.plan_s",
             "registry.execute_s"]
    for q in HEADLINE:
        names += [f"registry.{q}.construct_s", f"registry.{q}.execute_s"]
    names += ["tables.load_table_calls", "tables.load_table_s"]
    names += ["stream.precreate_s", "stream.triggers", "stream.blocks_per_trigger",
              "stream.backlog_end_blocks", "stream.trigger_p50_s",
              "stream.sink_blocks_per_s"]
    names += [f"stream.{p}_s" for p in ("add_batch", "latest_offset", "get_batch",
                                        "query_planning", "wal_commit",
                                        "commit_offsets")]
    names += ["ingest.decode_s", "ingest.presence_s", "ingest.build_plans_s",
              "ingest.span_s", "ingest.prune_ratio"]
    names += ["warehouse.write_tables_s", "warehouse.insert_calls",
              "warehouse.insert_s", "warehouse.keep_one_calls",
              "warehouse.keep_one_s", "warehouse.probe_calls", "warehouse.probe_s",
              "warehouse.probe_skip_ratio"]
    names += [f"storage.{op}" for op in STORAGE_OPS]
    names += [f"spark.{c}" for c in SPARK_COUNTERS]
    for short in COUNTER_QUERIES:
        names += [f"spark.{short}.{c}" for c in QUERY_COUNTERS]
    names += ["log.error_lines", "box.nproc", "box.local_cores", "box.loadavg_1m",
              "box.busy_frac", "follow.generator_late_max_s", "trace.overhead_frac",
              "trace.spans", "ops.failed_frac"]
    return names


PER_LAYER_NAMES = _per_layer_names()


def p90(values) -> float:
    """90th percentile, interpolated between the samples around it."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def unit_of(name: str) -> str:
    if name in E2E:
        return E2E[name]
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_per_s"):
        return "1/s"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_bytes"):
        return "bytes"
    if leaf.endswith(("_ratio", "_frac")):
        return "ratio"
    if leaf.endswith("_blocks") or leaf == "blocks_per_trigger":
        return "blocks"
    if leaf == "loadavg_1m":
        return "load"
    return "count"


def per_layer(res: dict, error_lines: int) -> dict[str, float]:
    """Every per-layer metric of a traced run's worker result."""
    out = {name: 0.0 for name in PER_LAYER_NAMES}
    out.update(res.get("layers", {}))
    units = max(res.get("units", {}).get("measure", 0), 1)
    ops = res.get("storage", {}).get("measure", {})
    for op in STORAGE_OPS:
        out[f"storage.{op}"] = ops.get(op, 0) / units
    counters = res.get("counters", {})
    for c in SPARK_COUNTERS:
        out[f"spark.{c}"] = counters.get("measure", {}).get(c, 0) / units
    for short in COUNTER_QUERIES:
        runs = [v for k, v in counters.items() if k.startswith(short + "#")]
        for c in QUERY_COUNTERS:
            out[f"spark.{short}.{c}"] = (
                sum(r[c] for r in runs) / len(runs) if runs else 0.0
            )
    stamp = res.get("stamp", {})
    out["log.error_lines"] = error_lines
    out["box.nproc"] = stamp.get("nproc", 0)
    out["box.local_cores"] = stamp.get("local_cores", 0)
    out["box.loadavg_1m"] = stamp.get("loadavg_1m", 0.0)
    out["box.busy_frac"] = stamp.get("busy_frac", 0.0)
    base = res.get("e2e", {}).get("latency_p50_s")
    traced = res.get("traced_e2e", {}).get("latency_p50_s")
    if base and traced:
        out["trace.overhead_frac"] = traced / base - 1.0
    out["ops.failed_frac"] = res["failed"] / max(res["attempted"], 1)
    return out
