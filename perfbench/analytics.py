"""The ``analytics`` workload: a closed loop with one client running the 17
headline queries of ``bench.py`` back to back with the noop sink.

Set-up writes seeded tables (:mod:`tablegen`) and runs every query once with
a collect, which warms the JVM and is also the correctness check: each
result must match its DuckDB oracle by row count and an order-insensitive
hash. The table generator and the oracle run in child processes (the oracle
while Spark works), so their memory is not the worker's.

The measured value is the wall time of one whole pass (the 17 queries in
order), as the median over the passes of the run. ``bench.py``'s ``value``
is instead the sum of per-query medians.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import box
import checks
from metrics import COUNTER_QUERIES, HEADLINE, p90

HERE = os.path.dirname(os.path.abspath(__file__))

SF = 0.01
SF_TINY = 0.001


def headline() -> list[str]:
    """bench.py's headline list, which the metric catalogue mirrors."""
    from bench import HEADLINE as bench_headline

    if tuple(bench_headline) != HEADLINE:
        raise RuntimeError("bench.HEADLINE changed; update metrics.HEADLINE")
    return list(HEADLINE)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _checked_warmup(ctx, registry, names, data: str) -> tuple[float, list[str]]:
    """Collect every query once (pool of ``ctx.cores`` threads) and compare
    with the oracle digests computed alongside. Returns (Spark-side wall
    seconds, failures)."""
    sqls = {n: registry[n].oracle for n in names if registry[n].oracle}
    sqls_path = os.path.join(ctx.state, "oracle_sql.json")
    digests_path = os.path.join(ctx.state, "oracle_digests.json")
    with open(sqls_path, "w") as fh:
        json.dump(sqls, fh)
    duck = subprocess.Popen([
        sys.executable, os.path.join(HERE, "checks.py"), data, sqls_path, digests_path,
    ])

    def run_one(name):
        try:
            return name, checks.frame_digest(registry[name].fn(ctx.spark, data).toPandas())
        except Exception as ex:  # reported as a failed check
            return name, ("error", str(ex)[:200])

    t = time.perf_counter()
    try:
        with ThreadPoolExecutor(ctx.cores) as pool:
            got = dict(pool.map(run_one, names))
        spark_s = time.perf_counter() - t
    finally:
        duck.wait()
    oracle: dict = {}
    if duck.returncode == 0:
        with open(digests_path) as fh:
            oracle = {k: tuple(v) for k, v in json.load(fh).items()}
    failures = [] if duck.returncode == 0 else [f"oracle exited with {duck.returncode}"]
    for name in names:
        if got[name][0] == "error":
            failures.append(f"{name}: {got[name][1]}")
        elif name in sqls and oracle.get(name) != got[name]:
            failures.append(f"{name}: spark {got[name]} != oracle {oracle.get(name)}")
    return spark_s, failures


def _passes(ctx, registry, names, data: str, seconds: float, traced: bool):
    """Back-to-back passes until ``seconds`` have elapsed (at least one)."""
    passes, failed, windows = [], 0, {}
    tr = ctx.tracer if traced else None
    t_start = time.perf_counter()
    k = 0
    while True:
        per: dict[str, float] = {}
        tp = time.perf_counter()
        for name in names:
            fn = registry[name].fn
            t = time.perf_counter()
            lo = time.time()
            try:
                if tr is None:
                    _noop(fn(ctx.spark, data))
                else:
                    with tr.span("registry.query", trace=f"{name}#{k}", query=name):
                        with tr.span("registry.construct", query=name):
                            df = fn(ctx.spark, data)
                        with tr.span("registry.plan", query=name):
                            with contextlib.redirect_stdout(io.StringIO()):
                                df.explain()
                        with tr.span("registry.execute", query=name):
                            _noop(df)
            except Exception:
                failed += 1
            per[name] = time.perf_counter() - t
            for short, full in COUNTER_QUERIES.items():
                if full == name:
                    windows[f"{short}#{k}"] = (lo, time.time())
        passes.append({"total": time.perf_counter() - tp, "per": per})
        k += 1
        if time.perf_counter() - t_start >= seconds:
            break
    return passes, failed, windows


def _e2e(passes) -> dict[str, float]:
    totals = [p["total"] for p in passes]
    return {"latency_p50_s": statistics.median(totals), "latency_p90_s": p90(totals)}


def run(ctx) -> dict:
    from allora_indexer_spark.registry import all_queries

    names = headline()
    registry = all_queries()
    t = time.perf_counter()
    sf = SF_TINY if ctx.tiny else SF
    data = os.path.join(ctx.state, "data")
    subprocess.run([
        sys.executable, os.path.join(HERE, "tablegen.py"), data, str(ctx.seed), str(sf),
    ], check=True)
    gen_s = time.perf_counter() - t
    warm_s, failures = _checked_warmup(ctx, registry, names, data)
    ctx.setup_s = gen_s + warm_s
    ctx.log(f"data {gen_s:.2f} s, checked warm-up {warm_s:.2f} s, {len(failures)} failures")

    with box.PeakRss() as rss:
        passes, failed, _ = _passes(ctx, registry, names, data, ctx.seconds, False)
    ctx.peak_rss_mb = rss.mb
    result = {
        "e2e": _e2e(passes),
        "info": {
            "sf": sf,
            "passes": len(passes),
            "pass_s": [p["total"] for p in passes],
            "warmup_s": warm_s,
            "datagen_s": gen_s,
        },
    }
    executions = sum(len(p["per"]) for p in passes)
    ctx.log(f"passes: {[round(p['total'], 2) for p in passes]}")
    if ctx.trace:
        with ctx.phase("measure") as info:
            tpasses, tfailed, windows = _passes(
                ctx, registry, names, data, ctx.seconds, True
            )
            info["units"] = sum(len(p["per"]) for p in tpasses)
        failed += tfailed
        executions += info["units"]
        result["traced_e2e"] = _e2e(tpasses)
        result["counter_windows"] = windows
        result["layers"] = _layers(ctx, names, len(tpasses))
        result["counter_queries"] = {
            short: sum(1 for w in windows if w.startswith(short + "#"))
            for short in COUNTER_QUERIES
        }
    result["attempted"] = executions + len(names)
    result["failed"] = failed + len(failures)
    result["failures"] = failures
    return result


def _layers(ctx, names, n_passes: int) -> dict[str, float]:
    tr = ctx.tracer
    spans = [s for s in tr.spans if s["name"].startswith("registry.")]
    out = {}
    for part in ("construct", "plan", "execute"):
        out[f"registry.{part}_s"] = sum(
            s["end"] - s["start"] for s in spans if s["name"] == f"registry.{part}"
        ) / n_passes
    for name in names:
        for part in ("construct", "execute"):
            ds = [s["end"] - s["start"] for s in spans
                  if s["name"] == f"registry.{part}" and s.get("query") == name]
            out[f"registry.{name}.{part}_s"] = statistics.mean(ds) if ds else 0.0
    calls, secs = tr.total("tables.load_table")
    out["tables.load_table_calls"] = calls / n_passes
    out["tables.load_table_s"] = secs / n_passes
    return out
