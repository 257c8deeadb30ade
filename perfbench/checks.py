"""Correctness checks run by the benchmark.

- :func:`check_sink_tables`: after a streaming drain, every sink table has
  no duplicate natural keys, its key set equals ``ingest.build_tables``
  over the same feed files, and ``block_info`` (or ``events``, when only
  the event sink runs) holds exactly the expected heights.
- :func:`frame_digest` and :func:`oracle_digests`: a query result and its
  DuckDB oracle reduce to a row count and an order-insensitive hash, which
  must be equal.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
from concurrent.futures import ThreadPoolExecutor


def check_sink_tables(
    spark, warehouse_root: str, blocks_dir: str, results_dir: str, heights,
    sinks, workers: int,
) -> tuple[int, list[str]]:
    """(number of checks, failures) over the tables of ``sinks`` ("block",
    "event"). The expected tables are built the way bench.py builds them,
    over persisted parse roots, and the key sets of both sides are
    collected on a pool of ``workers`` threads. The heights check reads
    ``block_info`` when the block sink ran, else the ``events`` table
    (every generated block carries whitelisted events)."""
    from allora_indexer_spark.plans import ingest, warehouse
    from allora_indexer_spark.schemas import TABLE_KEYS
    from allora_indexer_spark.streaming.stream import (
        BLOCK_SINK_TABLES,
        EVENT_SINK_TABLES,
    )

    names = (BLOCK_SINK_TABLES if "block" in sinks else []) + (
        EVENT_SINK_TABLES if "event" in sinks else []
    )
    height_table = "block_info" if "block" in sinks else "events"
    # ingest.build_tables is the union of the two per-feed builders; only
    # the feeds of the followed sinks are decoded
    expected, roots = {}, []
    if "block" in sinks:
        blocks = ingest.read_blocks(spark, blocks_dir)
        roots.append(ingest.messages(blocks).persist())
        expected.update(ingest.build_tables_for_blocks(blocks, msgs=roots[-1]))
    if "event" in sinks:
        results = ingest.read_block_results(spark, results_dir)
        roots.append(ingest.flat_events(results).persist())
        expected.update(ingest.build_tables_for_events(None, fev=roots[-1]))

    def keys(df, name):
        return [tuple(r) for r in df.select(*TABLE_KEYS[name]).collect()]

    def one(name: str) -> list[str]:
        got = keys(warehouse.read_table(spark, warehouse_root, name), name)
        want = set(keys(expected[name], name))
        have = set(got)
        out = []
        if len(got) != len(have):
            out.append(f"{name}: {len(got) - len(have)} duplicate keys")
        if have != want:
            out.append(
                f"{name}: {len(have - want)} unexpected and "
                f"{len(want - have)} missing keys"
            )
        return out

    def heights_check() -> list[str]:
        stored = {
            r[0] for r in warehouse.read_table(spark, warehouse_root, height_table)
            .select("height").distinct().collect()
        }
        if stored == set(heights):
            return []
        return [f"{height_table}: {len(stored - set(heights))} unexpected and "
                f"{len(set(heights) - stored)} missing heights"]

    try:
        with ThreadPoolExecutor(max(1, workers)) as pool:
            failures = [m for ms in pool.map(one, names) for m in ms]
        failures += heights_check()
    finally:
        for r in roots:
            r.unpersist()
    return len(names) + 1, failures


def _canon(v):
    """A hashable, engine-neutral form of one value. Missing values (None,
    NaN, NaT, NA) are one value, as the pandas frames of both engines
    render SQL NULL differently."""
    import pandas as pd

    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() else v
    if isinstance(v, decimal.Decimal):
        return _canon(float(v))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, datetime.datetime) or hasattr(v, "to_pydatetime"):
        if hasattr(v, "to_pydatetime"):
            v = v.to_pydatetime()
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def frame_digest(pdf) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = [
        repr(tuple(_canon(v) for v in rec))
        for rec in pdf[cols].itertuples(index=False, name=None)
    ]
    h = hashlib.sha256(repr(cols).encode())
    for r in sorted(rows):
        h.update(r.encode())
    return len(rows), h.hexdigest()


def oracle_digests(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple]:
    """DuckDB oracle digests, one per query, over the parquet files of
    ``sf_dir``. An oracle error is kept as its message."""
    import duckdb

    from allora_indexer_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name, sql in sqls.items():
        try:
            out[name] = frame_digest(con.execute(sql).df())
        except Exception as ex:  # reported as a failed check
            out[name] = ("error", str(ex)[:200])
    con.close()
    return out


if __name__ == "__main__":
    # python3 checks.py SF_DIR SQLS_JSON OUT_JSON: the oracle digests of the
    # queries in SQLS_JSON ({name: sql}), written to OUT_JSON; the analytics
    # workload runs this in a child process beside its Spark warm-up
    import json
    import sys

    with open(sys.argv[2]) as fh:
        queries = json.load(fh)
    with open(sys.argv[3], "w") as fh:
        json.dump(oracle_digests(sys.argv[1], queries), fh)
