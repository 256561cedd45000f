"""The system under test, in its own process.

``run.py`` starts this script and drives it with one JSON command per
line on stdin; each reply is one JSON line on the original stdout.
Everything else the process or its JVM prints goes to stderr.

The streaming commands compose the same public functions ``cli.run``
wires (``parse_and_bucket`` -> ``start_bucket_counter`` ->
``ServingStore`` -> ``http.serve``), with two differences: the trigger
is continuous (processing time 0), so freshness measures the program
rather than the reference's ``bucket_interval + 5 s`` cadence, and the
file source takes a fixed ``maxFilesPerTrigger``.

With ``--trace 1`` the calls named in ``Tracer.instrument_*`` are
wrapped in spans (name, start, end, parent, op id) kept in memory and
returned by ``trace``.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import importlib.util
import itertools
import json
import os
import sys
import threading
import time
import traceback
from pathlib import Path

from layers import CATALOG_GROUP, READ_GROUP

ROOT = Path(__file__).resolve().parent.parent


def _load_by_path(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Tracer:
    """Spans recorded around calls into the program's layers."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._req = itertools.count(1)
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.time(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)

    def wrap(self, fn, name: str, op_of=None, before=None):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            if before is not None:
                before()
            with self.span(name, op_of(*args, **kwargs) if op_of else None):
                return fn(*args, **kwargs)

        return inner

    def wrap_cm(self, fn, name: str):
        @functools.wraps(fn)
        @contextlib.contextmanager
        def inner(*args, **kwargs):
            with self.span(name), fn(*args, **kwargs) as value:
                yield value

        return inner

    def request_id(self) -> str:
        return f"req{next(self._req)}"

    # -- the wrapped calls ------------------------------------------------
    def instrument_store(self, store) -> None:
        store.append = self.wrap(
            store.append, "serving.append", op_of=lambda df, batch_id: f"batch{batch_id}"
        )
        store.clean = self.wrap(store.clean, "serving.clean")
        store.view = self.wrap(store.view, "serving.view")
        store.view_where = self.wrap(store.view_where, "serving.view")
        # the read paths resolve snapshots through the private method;
        # the public ``snapshot`` delegates to it
        store._snapshot = self.wrap(store._snapshot, "serving.snapshot")

    def instrument_api(self, spark) -> None:
        from spark_streaming_kafka_bucket_counter_spark.streaming import api

        def tag_read():
            spark.sparkContext.setJobGroup(READ_GROUP, "perfbench read")

        for attr in (
            "recent_values", "direct_value", "select_range",
            "custom_select", "custom_sql", "rst",
        ):
            fn = getattr(api, attr)
            setattr(
                api, attr,
                self.wrap(fn, f"api.{attr}", op_of=lambda *a, **k: self.request_id(),
                          before=tag_read),
            )

    def instrument_manifest(self) -> None:
        from spark_streaming_kafka_bucket_counter_spark.sources import manifest

        for attr in ("scan_parquet_files", "latest_manifest", "gc_index_tree"):
            setattr(manifest, attr, self.wrap(getattr(manifest, attr), f"manifest.{attr}"))
        manifest.manifest_txn = self.wrap_cm(manifest.manifest_txn, "manifest.manifest_txn")

    def instrument_catalog(self) -> None:
        from spark_streaming_kafka_bucket_counter_spark.plans import queries
        from spark_streaming_kafka_bucket_counter_spark.sources import files

        traced = self.wrap(files.load_table, "files.load_table")
        files.load_table = traced
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if name.startswith(queries.__package__) and hasattr(mod, "load_table"):
                mod.load_table = traced


class ProgressLog:
    """Every ``StreamingQueryProgress`` the stream reports, as dicts."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({
                    "batchId": p.batchId,
                    "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


class Sut:
    def __init__(self, spark, trace: bool) -> None:
        self.spark = spark
        self.tracer = Tracer() if trace else None
        self.progress = None
        self.store = None
        self.query = None
        self.server = None
        self.sf_dir = None
        self.marks: dict[str, set] = {}
        if self.tracer:
            self.tracer.instrument_manifest()
            self.tracer.instrument_api(spark)

    # -- streaming --------------------------------------------------------
    def cmd_open_store(self, path, clean_interval, clean_freq):
        from spark_streaming_kafka_bucket_counter_spark.streaming.serving import ServingStore

        self.store = ServingStore(
            self.spark, path, table_name="default",
            clean_interval=clean_interval, clean_freq=clean_freq,
        )
        if self.tracer:
            self.tracer.instrument_store(self.store)
        return {}

    def cmd_prefill(self, rows):
        """Write the prefilled history in one manifest transaction, one
        parquet file per batch partition (the layout a micro-batch's
        append leaves)."""
        from spark_streaming_kafka_bucket_counter_spark.sources.manifest import manifest_txn
        from spark_streaming_kafka_bucket_counter_spark.streaming.serving import RST_COL

        df = self.spark.createDataFrame(
            rows, f"etype string, bucket_start long, bucket_end long, count long, {RST_COL} long"
        )
        path = str(self.store.path)
        with manifest_txn(path):
            df.repartition(RST_COL).write.mode("append").partitionBy(RST_COL).parquet(path)
        return {"batches": len({r[4] for r in rows})}

    def cmd_stream_start(self, src, ckpt, msg_map, bucket_interval, max_files):
        from spark_streaming_kafka_bucket_counter_spark.streaming.http import serve
        from spark_streaming_kafka_bucket_counter_spark.streaming.pipeline import (
            parse_and_bucket,
            start_bucket_counter,
        )

        if self.tracer:
            self.progress = ProgressLog()
            self.spark.streams.addListener(self.progress.listener)
        source = (
            self.spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", max_files)
            .text(src)
            .select("value")
        )
        records = parse_and_bucket(source, msg_map, "timestamp", bucket_interval, "epoch")
        self.query = start_bucket_counter(
            records,
            self.store,
            group_cols=[k for k in msg_map if k != "timestamp"],
            checkpoint_dir=ckpt,
            trigger={"processingTime": "0 seconds"},
        )
        self.server, _ = serve(self.store)
        return {"port": self.server.server_address[1]}

    def cmd_store_counts(self, group_cols):
        """Stored counts summed per (RST_ID, key, bucket_start)."""
        from pyspark.sql import functions as F

        from spark_streaming_kafka_bucket_counter_spark.streaming.serving import RST_COL

        view = self.store._view_from(self.store.snapshot())
        rows = (
            view.groupBy(RST_COL, *group_cols, "bucket_start")
            .agg(F.sum("count").alias("n"))
            .collect()
        )
        return {"rows": [list(r) for r in rows]}

    def cmd_store_state(self):
        from spark_streaming_kafka_bucket_counter_spark.sources.manifest import _mdir

        m = self.store.snapshot()
        mdir = _mdir(self.store.path)
        kb = sum(p.stat().st_size for p in mdir.rglob("*") if p.is_file()) / 1024.0
        return {
            "live_files": len(m["files"]),
            "generation": m.get("generation"),
            "manifest_kb": kb,
            "batches_retained": len(self.store._ids_of(m["files"])),
        }

    # -- catalog ------------------------------------------------------------
    def cmd_catalog_setup(self, data_dir, repeats):
        gen = _load_by_path("perfbench_gen_scale", ROOT / "tools" / "gen_scale.py")
        times = []
        for _ in range(repeats):
            t0 = time.time()
            gen.generate(0.1, data_dir)
            times.append(time.time() - t0)
        self.sf_dir = data_dir
        if self.tracer:
            self.tracer.instrument_catalog()
        return {"gen_s": times}

    def cmd_catalog_pass(self, names):
        from spark_streaming_kafka_bucket_counter_spark.plans import queries as catalog

        if self.tracer:
            self.spark.sparkContext.setJobGroup(CATALOG_GROUP, "perfbench catalog")
        out = []
        for name in names:
            op = {"name": name, "start": time.time()}
            fn = catalog.QUERIES[name]
            span = self.tracer.span(name, op=name) if self.tracer else contextlib.nullcontext()
            with span:
                df = fn(self.spark, self.sf_dir)
                op["built"] = time.time()
                if self.tracer:
                    df._jdf.queryExecution().executedPlan()
                op["planned"] = time.time()
                df.write.format("noop").mode("overwrite").save()
            op["end"] = time.time()
            out.append(op)
        if self.tracer:
            self.spark.sparkContext.setJobGroup(None, None)
        return {"ops": out}

    def cmd_catalog_oracle(self, names):
        import duckdb

        from spark_streaming_kafka_bucket_counter_spark.plans import queries as catalog

        harness = _load_by_path("perfbench_oracle_harness", ROOT / "tests" / "oracle_harness.py")
        con = duckdb.connect()
        try:
            for f in sorted(Path(self.sf_dir).glob("*.parquet")):
                con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
            ok = {}
            for name in names:
                good, detail = harness.compare(
                    self.spark, con, catalog.QUERIES[name], catalog.ORACLES[name],
                    self.sf_dir, name,
                )
                ok[name] = bool(good)
        finally:
            con.close()
        return {"ok": ok}

    # -- counters and trace -------------------------------------------------
    def _jobs(self) -> dict[int, tuple]:
        """``{job id: (job group, tasks)}`` for every job the status
        store still holds (streaming jobs carry the query's run id as
        their group)."""
        out = {}
        jobs = self.spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        for i in range(jobs.length()):
            job = jobs.apply(i)
            group = job.jobGroup()
            out[job.jobId()] = (group.get() if group.isDefined() else None, job.numTasks())
        return out

    def cmd_mark_jobs(self, mark):
        self.marks[mark] = set(self._jobs())
        return {}

    def cmd_jobs_since(self, mark):
        """Jobs and tasks started since ``mark``: the benchmark's own
        read and catalog groups by name, everything else as ``other``."""
        seen = self.marks[mark]
        out = {g: {"jobs": 0, "tasks": 0} for g in (READ_GROUP, CATALOG_GROUP, "other")}
        for job_id, (group, tasks) in self._jobs().items():
            if job_id in seen:
                continue
            key = group if group in (READ_GROUP, CATALOG_GROUP) else "other"
            out[key]["jobs"] += 1
            out[key]["tasks"] += tasks
        return out

    def cmd_trace(self):
        return {
            "spans": self.tracer.spans if self.tracer else [],
            "progress": self.progress.events if self.progress else [],
        }

    def cmd_span_cost(self, n):
        """Seconds one empty traced call costs, measured over ``n``."""
        if not self.tracer:
            return {"span_s": 0.0}
        probe = Tracer()
        fn = probe.wrap(lambda: None, "probe")
        t0 = time.perf_counter()
        for _ in range(n):
            fn()
        return {"span_s": (time.perf_counter() - t0) / n}

    def cmd_stop(self):
        if self.query is not None:
            self.query.stop()
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
        return {"stopped": True}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    def reply(obj) -> None:
        proto.write(json.dumps(obj, default=str) + "\n")

    t0 = time.time()
    import pyspark

    from spark_streaming_kafka_bucket_counter_spark.session import (
        get_spark,
        stream_drain_partitions,
    )

    spark = get_spark(app_name="perfbench-sut")
    spark.sparkContext.setLogLevel("ERROR")
    sut = Sut(spark, bool(args.trace))
    reply({
        "ready": True,
        "session_s": time.time() - t0,
        "env": {
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "stream_drain_partitions": stream_drain_partitions(spark),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
        },
    })
    for line in sys.stdin:
        cmd = json.loads(line)
        try:
            res = getattr(sut, "cmd_" + cmd["cmd"])(**cmd.get("args", {}))
        except Exception:  # reported to the load process, which fails the run
            res = {"error": traceback.format_exc()}
        reply(res)
        if cmd["cmd"] == "stop":
            break
    return 0


if __name__ == "__main__":
    sys.exit(main())
