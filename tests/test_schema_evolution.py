"""Schema evolution on the storage layer: files written before a column
existed must read cleanly next to newer files (mergeSchema), with NULLs
for the missing column — the lakehouse append-only evolution contract.
Also pins that the serving store tolerates schema-widened batches, and
that its pruned reads, which declare the union of the recorded row
schemas, keep every column a batch ever added."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka_bucket_counter_spark.streaming.serving import ServingStore


def test_merge_schema_reads_old_and_new_files(spark, tmp_path):
    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    v1.write.mode("append").parquet(path)
    v2 = spark.createDataFrame(
        [(2, "b", 99)], "id long, name string, score long"
    )
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: 99}


def test_store_survives_widened_batch(spark, tmp_path):
    store = ServingStore(spark, str(tmp_path / "wstore"), clean_freq=0)
    store.append(spark.createDataFrame([(1, 10)], "k long, v long"), 0)
    # a later batch gains a column; per-partition dirs isolate schemas,
    # and the merged view surfaces the union with NULL backfill
    store.append(spark.createDataFrame([(2, 20, "x")], "k long, v long, tag string"), 1)
    view = store.view()
    got = {r["k"]: (r["v"], r["tag"] if "tag" in view.columns else None) for r in view.collect()}
    assert got[1] == (10, None) and got[2] == (20, "x")


def _route_rows(store, path):
    from spark_streaming_kafka_bucket_counter_spark.streaming import http

    status, rows = http._route(store, path)
    assert status == 200, rows
    return rows


def test_pruned_reads_keep_columns_of_other_batches(spark, tmp_path):
    # batch 1 carries a column batches 0 and 2 lack: every pruned read
    # (one batch, the newest batch, a range matching only old files)
    # still answers with the full view's columns, NULL where absent
    store = ServingStore(spark, str(tmp_path / "wstore"), clean_freq=0)
    narrow = "k long, v long"
    store.append(spark.createDataFrame([(1, 10)], narrow), 0)
    store.append(spark.createDataFrame([(2, 20, "x")], narrow + ", tag string"), 1)
    store.append(spark.createDataFrame([(3, 30)], narrow), 2)
    cols = set(store.view().columns)
    assert cols == {"k", "v", "tag", "RST_ID"}
    for path, k in (("/dv/0", 1), ("/rv/1", 3), ("/sr/k/1:1", 1)):
        rows = _route_rows(store, path)
        assert [set(r) for r in rows] == [cols], path
        assert rows[0]["k"] == k and rows[0]["tag"] is None, path
    assert len(store.batch(0).inputFiles()) == 1
    assert len(store.view_where({"k": ("range", ("1", "1"))}).inputFiles()) == 1
    assert _route_rows(store, "/dv/1")[0]["tag"] == "x"


def test_type_conflict_keeps_merge_schema_read(spark, tmp_path):
    # batches disagree on v's type: no declared schema, so the read is
    # the footer merge over every file, which rejects the store exactly
    # as a plain mergeSchema read of the same files does
    from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
        recorded_schema,
    )

    store = ServingStore(spark, str(tmp_path / "cstore"), clean_freq=0)
    store.append(spark.createDataFrame([(1, 10)], "k long, v int"), 0)
    store.append(spark.createDataFrame([(2, 20)], "k long, v long"), 1)
    m = store.snapshot()
    assert recorded_schema(m, m["files"]) is None
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        (
            spark.read.option("basePath", str(store.path))
            .option("mergeSchema", "true")
            .parquet(*[str(store.path / f) for f in m["files"]])
        )
    for read in (store.view, lambda: store.batch(0), lambda: store.recent(1)):
        with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
            read()
