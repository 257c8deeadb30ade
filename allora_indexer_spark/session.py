"""SparkSession factory.

Defaults mirror how the engine should run on a real cluster (AQE on, broadcast
joins for dimension tables, sane shuffle partitioning) while remaining correct
on local[N]. The reference's parallelism knobs (WORKERS_NUM,
MAX_CONCURRENT_TX_PROCESSING — /root/reference/main.go:58,70) map onto Spark
task parallelism, not manual semaphores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Size of Spark's generated-code cache (spark.sql.codegen.cache.maxEntries,
# default 100). The engine re-runs the same plans on every pass and every
# streaming trigger; classes compiled by each, counted with codegen_counts
# in fresh local[4] sessions at sf0.01 (README "Session defaults" has the
# full table):
#
#                                       cache 100   unbounded   2000   2500
#   174-query registry, first sweep        2761        2017      2020   2021
#   same registry, second sweep            2644          67       915     67
#   17 headline queries, each later pass    272         0-6         -   0-12
#   event sink, each later trigger      204-253        4-22         -   4-22
#
# 2500 is the smallest size in steps of 500 at which a second sweep
# compiles only what an unbounded cache compiles too: classes that inline
# per-run literals such as a probe's height bounds. Cost after one full
# sweep, against the default: Metaspace +17 MB used (204 -> 221 MB),
# CodeHeap nmethods +14 MB (105 -> 119 MB).
CODEGEN_CACHE_ENTRIES = 2500


def get_spark(
    app_name: str = "allora-indexer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    Determinism notes (matters for the DuckDB-oracle correctness gate):
    - session timezone pinned to UTC so parquet timestamps and time windows
      agree with DuckDB's naive timestamps;
    - ANSI mode off (we use try_cast explicitly where null-on-failure is the
      contract, mirroring the reference's parse-gate semantics
      /root/reference/process_tx.go:344-367).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # CPUS feeds the master string, where '*' is legal ("local[*]");
        # it doubles as the shuffle default only when numeric — int('*')
        # would otherwise abort session creation with a traceback blaming
        # shuffle partitioning for a master-string setting
        fallback = cpus if cpus.isdigit() else str(os.cpu_count() or 32)
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", fallback)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing of shuffle partitions, skew-join splitting,
        # and dynamic broadcast conversion — the scale story for 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce the OUTPUT partitioning of cached plans too
        # (off by default): the ingest fan-out persists its two parse
        # roots, and without this every one of the ~23 downstream writes
        # scans shuffle.partitions-many mostly-empty cached partitions
        # (round-17 probe: 916 -> 78 tasks per ingest pass). The
        # coalescing is byte-targeted (advisoryPartitionSizeInBytes), so
        # a corpus-scale cached root keeps executor-sized partitions —
        # data-adaptive, not a local-core-count tune (guide §2.2).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Arrow for any pandas-UDF path (the slow-path escape hatch only).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4's DataFrame debugging captures the user call site for
        # every Column/DataFrame op: a py4j trace shows 13 driver round
        # trips per F.col(), 8 of them getActiveSession +
        # PySparkCurrentOrigin.set/clear bookkeeping, plus a Python-side
        # stack inspection. Off, one Column op is ~0.6 ms instead of
        # ~2-6 ms — a 4x cut in EVERY query's plan-construction latency
        # (errors still raise with full JVM context; only the "user line
        # was here" fragment is dropped). Round 17; guide §7.3 planning-
        # time-as-bottleneck.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        # Parquet TIMESTAMP(NANOS) (events.ts) is read as long nanos and
        # truncated to micros in tables.load_table — the same truncation
        # DuckDB applies at scan, keeping the oracle comparison exact.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Dimension tables (region/nation/supplier/topics) are tiny; let the
        # planner broadcast them. 32 MB is generous locally and sane on a
        # cluster with 8 GiB+ executors.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Scan granularity: restates Spark's 128 MiB default ON PURPOSE —
        # it is a deliberate sizing decision (100 TB ≈ 800k schedulable
        # tasks, each decompressing well under executor memory), pinned so
        # an environment-level override cannot silently change it; with
        # AQE coalescing the post-shuffle side, these two knobs are the
        # whole spill-sizing story.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # FAIR job scheduling: the streaming sinks submit one write job
        # per table from a thread pool (warehouse.write_tables); under
        # FIFO a wide early job monopolizes every core while later
        # SMALL writes queue whole, stretching the trigger's tail
        # (stream_batch_p90). FAIR round-robins cores across the
        # concurrent jobs so the per-trigger wall time tracks total
        # work, not arrival order. Sequential workloads (the bench
        # query sweep, one job at a time) are unaffected — FAIR only
        # changes the schedule when jobs actually overlap.
        .config("spark.scheduler.mode", "FAIR")
        # Generated-code cache sized to the engine's working set (see
        # CODEGEN_CACHE_ENTRIES): at Spark's default of 100 every class is
        # evicted before its next use and compiled again. Static conf,
        # read once per JVM.
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_counts(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, seconds spent compiling) by Spark's code
    generator in this JVM so far. The count is CodegenMetrics' compile
    histogram, the time CodeGenerator's compile-time total. Both are
    JVM-wide and only grow: diff two readings to cost a span of work."""
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiled = metrics.METRIC_COMPILATION_TIME().getCount()
    return int(compiled), gen.compileTime() / 1e9
