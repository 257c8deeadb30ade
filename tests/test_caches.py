"""Python-side metadata caches: each answer must belong to the object it
was asked about, and each cache must stay bounded by what is live."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import LongType, StructField, StructType

from allora_indexer_spark import schemas, tables
from allora_indexer_spark.plans import warehouse


def test_ddl_of_short_lived_schemas_names_their_own_field(spark):
    # CPython reuses a freed object's address for the next allocation, so
    # a cache keyed on id() alone would hand later schemas a dead one's DDL
    for i in range(200):
        out = schemas.ddl(spark, StructType([StructField(f"f{i}", LongType())]))
        assert out.split()[0].strip("`") == f"f{i}", out


def _footer_cache_entries() -> int:
    return sum(len(v) for v in warehouse._FOOTER_MAX_CACHE.values())


def test_footer_cache_holds_only_live_files(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(warehouse, "_FOOTER_MAX_CACHE", {})
    root = str(tmp_path / "wh")
    path = os.path.join(root, "messages")

    def append(lo):
        # a span strictly above every stored height takes the footer proof,
        # which walks and caches the table's live files
        df = spark.range(3).selectExpr(
            f"id + {lo} as height", "cast(id as long) as hash",
            "'t' as type", "'s' as sender", "'d' as data",
        )
        warehouse.write_insert_if_absent(
            spark, df, root, "messages", key_span=(lo, lo + 2)
        )

    append(0)
    warehouse.compact(spark, path)
    for k in range(1, 6):
        append(10 * k)
    assert _footer_cache_entries() <= len(warehouse._table_data_files(path))
    before = len(warehouse._table_data_files(path))
    warehouse.fold_appends(spark, path)
    append(100)
    live = len(warehouse._table_data_files(path))
    assert live < before
    assert 0 < _footer_cache_entries() <= live
    assert warehouse.read_table(spark, root, "messages").count() == 21


def _write_partitioned(src: str, table: pa.Table) -> None:
    part = os.path.join(src, "r=1")
    os.makedirs(part, exist_ok=True)
    pq.write_table(table, os.path.join(part, "part-0.parquet"))


def test_schema_catalog_sees_a_rewrite_inside_a_partition_dir(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(tables, "_SCHEMA_CACHE", {})
    sf = str(tmp_path)
    src = os.path.join(sf, "region.parquet")
    _write_partitioned(src, pa.table({"a": [1, 2]}))
    assert set(tables.load_table(spark, sf, "region").columns) == {"a", "r"}
    # rewriting a file in place leaves the partition dir's own mtime alone,
    # so only a walk into the subdirectory sees the change
    _write_partitioned(src, pa.table({"b": ["x", "y", "z"]}))
    df = tables.load_table(spark, sf, "region")
    assert set(df.columns) == {"b", "r"}
    assert sorted(r.b for r in df.collect()) == ["x", "y", "z"]


def test_schema_catalog_keeps_one_entry_per_source(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(tables, "_SCHEMA_CACHE", {})
    sf = str(tmp_path)
    src = os.path.join(sf, "nation.parquet")
    os.makedirs(src)
    for k in range(4):
        pq.write_table(
            pa.table({"n": [k]}), os.path.join(src, f"part-{k}.parquet")
        )
        assert tables.load_table(spark, sf, "nation").count() == k + 1
    assert list(tables._SCHEMA_CACHE) == [src]
