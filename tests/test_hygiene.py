"""Hygiene: catalog queries must not leave session state behind, and
snapshot reads go through one planner.

The two Structured-Streaming catalog queries pin
``spark.sql.legacy.parquet.nanosAsLong`` while their drain executes and
used to leave it set (plus a /tmp checkpoint dir per call) — surprising
for any embedder calling a "query". Pinned here: conf restored, no
checkpoint-dir leak. Only ``sources/manifest.py`` may ask Spark to
merge parquet footers: every other snapshot read goes through its
``manifest_read``.
"""

from __future__ import annotations

import glob
import re
from pathlib import Path

import spark_streaming_kafka_bucket_counter_spark as pkg
from spark_streaming_kafka_bucket_counter_spark.plans import queries as catalog
from spark_streaming_kafka_bucket_counter_spark.session import restored_conf

SF_SMALL = "/root/testdata/sf0.001"

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _conf_or_none(spark, key):
    try:
        return spark.conf.get(key)
    except Exception:
        return None


def test_restored_conf_sets_back_and_unsets(spark):
    before = _conf_or_none(spark, _NANOS)
    with restored_conf(spark, _NANOS):
        spark.conf.set(_NANOS, "true")
        assert spark.conf.get(_NANOS) == "true"
    assert _conf_or_none(spark, _NANOS) == before


def test_stateful_query_leaves_no_conf_or_checkpoint(spark):
    spark.conf.unset(_NANOS)
    before = _conf_or_none(spark, _NANOS)  # default value (or None)
    assert before != "true"
    dirs_before = set(glob.glob("/tmp/ssbc_ckpt_*"))
    df = catalog.QUERIES["stateful_running_count"](spark, SF_SMALL)
    assert df.count() > 0
    assert _conf_or_none(spark, _NANOS) == before
    assert set(glob.glob("/tmp/ssbc_ckpt_*")) == dirs_before


def test_merge_schema_read_lives_only_in_the_manifest_reader():
    root = Path(pkg.__file__).parent
    option = re.compile(r"""["']mergeSchema["']|mergeSchema\s*=""")
    users = sorted(
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if option.search(p.read_text())
    )
    assert users == ["sources/manifest.py"]
