"""Serving reads plan from the snapshot manifest alone: a declared
schema (the Spark row schemas recorded at commit) instead of a
footer-merge job, and batch-id conjuncts resolved against each file's
``RST_ID=<b>/`` prefix before Spark sees the file list. These pins fail
if either optimization silently stops firing."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka_bucket_counter_spark.sources import manifest
from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
    _mdir,
    latest_manifest,
    manifest_txn,
    recorded_schema,
)
from spark_streaming_kafka_bucket_counter_spark.streaming import http
from spark_streaming_kafka_bucket_counter_spark.streaming.serving import (
    RST_COL,
    ServingStore,
)

# above spark.sql.sources.parallelPartitionDiscovery.threshold (32), where
# a read over every file starts a Spark listing job
N_BATCHES = 40


def _prefill(spark, store: ServingStore, n: int) -> None:
    """``n`` single-file batches 0..n-1 in one transaction, the layout
    one micro-batch append per batch leaves."""
    df = spark.range(0, n * 3).select(
        F.lit("click").alias("etype"),
        (F.col("id") * 10).alias("bucket_start"),
        (F.col("id") % 4 + 1).alias("count"),
        (F.col("id") / 3).cast("long").alias(RST_COL),
    )
    with manifest_txn(store.path):
        df.repartition(RST_COL).write.mode("append").partitionBy(RST_COL).parquet(
            str(store.path)
        )


@pytest.fixture(scope="module")
def wide_store(spark, tmp_path_factory):
    store = ServingStore(
        spark, str(tmp_path_factory.mktemp("reads") / "store"), clean_freq=0
    )
    _prefill(spark, store, N_BATCHES)
    return store


def _one_row(spark):
    return spark.createDataFrame(
        [("click", 999, 1)], "etype string, bucket_start long, count long"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_batch_and_recent_plan_over_their_own_files(wide_store):
    m = wide_store.snapshot()
    assert len(m["files"]) == N_BATCHES
    assert recorded_schema(m, m["files"]) is not None
    assert len(wide_store.batch(17).inputFiles()) == 1
    assert len(wide_store.recent(5).inputFiles()) == 5
    assert len(wide_store.view_asof(3).inputFiles()) == 4
    # same rows as the unpruned view under the same row filter
    view = wide_store.view()
    assert len(view.inputFiles()) == N_BATCHES
    assert _rows(wide_store.batch(17)) == _rows(view.filter(F.col(RST_COL) == 17))
    assert _rows(wide_store.recent(5)) == _rows(
        view.filter(F.col(RST_COL) > N_BATCHES - 1 - 5)
    )
    assert _rows(wide_store.view_asof(3)) == _rows(view.filter(F.col(RST_COL) <= 3))
    # a batch id outside the store: every file pruned, the full schema
    # and no rows, with no file planned
    missing = wide_store.batch(10_000)
    assert len(missing.inputFiles()) == 0 and missing.count() == 0
    assert missing.columns == view.columns
    # RST_ID stays the path-inferred partition column
    assert view.schema[RST_COL].dataType.simpleString() == "int"


def test_dv_route_runs_one_spark_job(spark, wide_store):
    sc = spark.sparkContext
    assert http._route(wide_store, "/dv/3")[0] == 200  # warm the session
    group = f"dv-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one /dv read")
    try:
        status, rows = http._route(wide_store, "/dv/21")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert status == 200
    assert sorted(r["bucket_start"] for r in rows) == [630, 640, 650]
    # no listing job and no footer-merge job: only the collect
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_recent_reads_one_snapshot(spark, tmp_path, monkeypatch):
    store = ServingStore(spark, str(tmp_path / "store"), clean_freq=0)
    _prefill(spark, store, 6)
    store.append(_one_row(spark), 6)
    older = latest_manifest(store.path)
    store.append(_one_row(spark), 7)
    newer = latest_manifest(store.path)
    calls = []

    def publish_between_calls(root):
        # the first resolution sees `older`; every later one sees a newer
        # generation, as if a micro-batch committed mid-request
        calls.append(root)
        return older if len(calls) == 1 else newer

    monkeypatch.setattr(manifest, "latest_manifest", publish_between_calls)
    got = {r[RST_COL] for r in store.recent(2).select(RST_COL).collect()}
    assert got == {5, 6}  # the two newest batches of the snapshot read


def test_legacy_stats_read_through_merge_schema(spark, tmp_path):
    store = ServingStore(spark, str(tmp_path / "store"), clean_freq=0)
    _prefill(spark, store, 6)
    before = {
        "view": _rows(store.view()),
        "batch": _rows(store.batch(2)),
        "recent": _rows(store.recent(2)),
        "sr": sorted(
            tuple(r.values()) for r in http._route(store, "/sr/bucket_start/40:80")[1]
        ),
    }
    # rewrite the snapshot as the pre-schema _file_stats left it
    m = latest_manifest(store.path)
    for st in m["stats"].values():
        del st["schema"]
    (_mdir(store.path) / f"v{m['generation']:012d}.json").write_text(json.dumps(m))

    m = store.snapshot()
    assert recorded_schema(m, m["files"]) is None
    # mergeSchema over every live file, as before schemas were recorded
    assert len(store.batch(2).inputFiles()) == 6
    assert _rows(store.view()) == before["view"]
    assert _rows(store.batch(2)) == before["batch"]
    assert _rows(store.recent(2)) == before["recent"]
    assert (
        sorted(tuple(r.values()) for r in http._route(store, "/sr/bucket_start/40:80")[1])
        == before["sr"]
    )
    # a new batch records its schema; one legacy file still keeps the
    # whole snapshot on the mergeSchema read
    store.append(_one_row(spark), 6)
    m = store.snapshot()
    (new,) = [f for f in m["files"] if f.startswith(f"{RST_COL}=6/")]
    assert "schema" in m["stats"][new]
    assert recorded_schema(m, m["files"]) is None
    assert _rows(store.batch(6)) == [("click", 999, 1, 6)]


def _listing(root) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    )


def test_reads_leave_the_directory_alone(spark, tmp_path):
    """Reads never repair the layout: legacy compaction debris is healed
    when a store is opened, not by whichever request finds it first."""
    path = str(tmp_path / "store")
    store = ServingStore(spark, path, clean_freq=0)
    _prefill(spark, store, 3)
    debris = store.path / "_compact_0"
    shutil.copytree(store.path / f"{RST_COL}=0", debris)
    before = _listing(path)
    assert store.view().count() == 9
    assert store.batch(0).count() == 3
    assert store.rst() == 2
    assert http._route(store, "/rv/1")[0] == 200
    assert _listing(path) == before
    # the next open heals it: the live partition exists, so the staged
    # copy is redundant and goes
    reopened = ServingStore(spark, path, clean_freq=0)
    assert not debris.exists()
    assert _rows(reopened.view()) == _rows(store.view())
