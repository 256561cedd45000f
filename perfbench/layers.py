"""Per-layer tables of a traced run, from the run record, the spans the
system under test recorded and its stream progress.

Pure Python with no Spark import. Every table carries ``common``: the
per-layer metrics ``BENCHMARK.json`` lists, measured the same way on
every workload so that each is a number on each.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import stats

READ_GROUP = "perfbench-read"
CATALOG_GROUP = "perfbench-catalog"
#: The api handler each read route reaches through ``http._route``.
ROUTE_API = {
    "rv": "api.recent_values",
    "dv": "api.direct_value",
    "sr": "api.select_range",
    "eoe": "api.custom_select",
    "sql": "api.custom_sql",
}


def _p(values, q: float = 50.0) -> float:
    return stats.percentile(values, q) if values else 0.0


def _ms(span) -> float:
    return (span["end"] - span["start"]) * 1000.0


def in_window(spans, rec: dict) -> list[dict]:
    return [s for s in spans if rec["t_win0"] <= s["start"] <= rec["t_win1"]]


def common(rec: dict, spans, job_group: str, ops: int, span_s: float) -> dict:
    """The listed per-layer metrics: Spark jobs and tasks per operation
    from the status store, CPU of the system under test per operation,
    traced calls per operation and the estimated cost of tracing them
    (``span_s``, one empty traced call, times the span count)."""
    ops = max(1, ops)
    jobs = rec["jobs"][job_group]
    return {
        "spark.jobs_per_op": jobs["jobs"] / ops,
        "spark.tasks_per_op": jobs["tasks"] / ops,
        "sut.cpu_ms_per_op": rec["cpu_s"] * 1000.0 / ops,
        "trace.spans_per_op": len(spans) / ops,
        "trace.overhead_ms": len(spans) * span_s * 1000.0,
    }


def http_overhead(reads, spans) -> list[float]:
    """Client latency minus the one api handler span inside each read."""
    roots = [s for s in spans if s["parent"] is None]
    out = []
    for r in reads:
        inside = [
            s for s in roots
            if s["name"] == ROUTE_API[r["route"]] and s["start"] >= r["t0"] and s["end"] <= r["t1"]
        ]
        if len(inside) == 1:
            out.append(r["ms"] - _ms(inside[0]))
    return out


def stream_tables(kind: str, rec: dict, trace: dict, file_batch: dict, files, span_s: float) -> dict:
    spans = in_window(trace["spans"], rec)
    timed = {file_batch[f.name] for f in files if f.name[0] in "bo" and f.name in file_batch}
    prog = [p for p in trace["progress"] if p["batchId"] in timed and p["numInputRows"] > 0]
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def dur(key):
        return [p["durationMs"].get(key, 0) for p in prog]

    def ms(name):
        return [_ms(s) for s in by_name[name]]

    # -- streaming.pipeline
    out = {
        "pipeline.trigger_ms_p50": _p(dur("triggerExecution")),
        "pipeline.trigger_ms_p90": _p(dur("triggerExecution"), 90),
        "pipeline.addBatch_ms_p50": _p(dur("addBatch")),
        "pipeline.latestOffset_ms_p50": _p(dur("latestOffset")),
        "pipeline.walCommit_ms_p50": _p(dur("walCommit")),
        "pipeline.commitOffsets_ms_p50": _p(dur("commitOffsets")),
        "pipeline.queryPlanning_ms_p50": _p(dur("queryPlanning")),
        "pipeline.rows_per_batch_p50": _p([p["numInputRows"] for p in prog]),
        "pipeline.batches": len(prog),
        "pipeline.backlog_files_max": rec["backlog_max"],
    }

    # -- projection + buckets + count: rows out per batch are the
    # distinct (key, bucket) groups the generator put in that batch
    rows_in, groups = Counter(), defaultdict(set)
    for f in files:
        b = file_batch.get(f.name)
        if b in timed:
            rows_in[b] += len(f.lines)
            groups[b].update(f.counts)
    append_ms = {
        int(s["op"][len("batch"):]): _ms(s) for s in by_name["serving.append"]
    }
    n_batches = max(1, len(prog))
    out.update({
        "count.rows_out_per_batch_p50": _p([len(g) for g in groups.values()]),
        "count.reduction": sum(rows_in.values()) / max(1, sum(len(g) for g in groups.values())),
        "spark.jobs_per_batch": rec["jobs"]["other"]["jobs"] / n_batches,
        "spark.tasks_per_batch": rec["jobs"]["other"]["tasks"] / n_batches,
        "decode_count_ms_p50": _p([
            p["durationMs"].get("addBatch", 0) - append_ms[p["batchId"]]
            for p in prog if p["batchId"] in append_ms
        ]),
    })

    # -- streaming.serving, write path
    add_total = sum(dur("addBatch"))
    out.update({
        "serving.append_ms_p50": _p(ms("serving.append")),
        "serving.append_ms_p90": _p(ms("serving.append"), 90),
        "serving.append_share": (
            sum(v for b, v in append_ms.items() if b in timed) / add_total if add_total else 0.0
        ),
        "serving.clean_ms_p50": _p(ms("serving.clean")),
        "serving.cleans": len(by_name["serving.clean"]),
    })

    # -- sources.manifest, counted inside the batch path only (the /rst
    # poller reads the manifest too)
    in_batch = Counter(s["name"] for s in spans if s["root"] == "serving.append")
    n_appends = max(1, len(by_name["serving.append"]))
    out.update({
        "manifest.scan_ms_p50": _p(ms("manifest.scan_parquet_files")),
        "manifest.scan_calls_per_batch": in_batch["manifest.scan_parquet_files"] / n_appends,
        "manifest.latest_ms_p50": _p(ms("manifest.latest_manifest")),
        "manifest.latest_calls_per_batch": in_batch["manifest.latest_manifest"] / n_appends,
        "manifest.gc_ms_p50": _p(ms("manifest.gc_index_tree")),
        **{f"store.{k}": v for k, v in rec["store"].items()},
    })

    # -- load side
    out.update({
        "gen.late_ms_p90": _p(rec["gen_late_ms"], 90),
        "gen.late_ms_max": max(rec["gen_late_ms"] or [0.0]),
        "client.freshness_samples": len(rec["freshness_ms"]),
        "api.rst_ms_p50": _p(ms("api.rst")),
    })

    reads = rec["reads"]
    if reads:
        out.update(read_tables(reads, spans, rec["jobs"][READ_GROUP]))
    out["self_s"] = {k: v["self_s"] for k, v in stats.layer_table(spans).items()}
    ops, group = (len(reads), READ_GROUP) if kind == "serve" else (len(prog), "other")
    out["common"] = common(rec, spans, group, ops, span_s)
    return out


def read_tables(reads, spans, jobs: dict) -> dict:
    """streaming.serving read path, streaming.api and streaming.http."""
    read_spans = [s for s in spans if s["root"] in ROUTE_API.values()]
    n = len(reads)
    views = [s for s in read_spans if s["name"] == "serving.view"]
    selfs = stats.self_times(read_spans)
    self_ms = Counter()
    for s in read_spans:
        self_ms[s["name"]] += selfs[s["id"]] * 1000.0 / n
    client_mean = sum(r["ms"] for r in reads) / n
    out = {
        "serving.view_ms_p50": _p([_ms(s) for s in views]),
        "serving.view_calls_per_read": len(views) / n,
        "serving.snapshot_ms_p50": _p([_ms(s) for s in read_spans if s["name"] == "serving.snapshot"]),
        "spark.jobs_per_read": jobs["jobs"] / n,
        "spark.tasks_per_read": jobs["tasks"] / n,
        **{
            f"{api}_ms_p50": _p([_ms(s) for s in read_spans if s["name"] == api])
            for api in ROUTE_API.values()
        },
        "api.rows_returned_p50": _p([r["rows"] for r in reads]),
        "http.overhead_ms_p50": _p(http_overhead(reads, read_spans)),
        "http.response_kb_p50": _p([r["kb"] for r in reads]),
        "client.reads": n,
        "read.client_ms_mean": client_mean,
        "read.view_self_share": self_ms["serving.view"] / client_mean,
    }
    out["read_self_ms_per_read"] = dict(self_ms)
    return out


def catalog_tables(rec: dict, trace: dict, span_s: float) -> dict:
    """plans.queries + operators + sources.files: construction, planning
    and execution per pass and per query, and ``load_table`` as the
    catalog resolves it."""
    spans = in_window(trace["spans"], rec)
    passes = rec["passes"]
    n_pass = len(passes)

    def phase(op, a, b):
        return op[b] - op[a]

    out = {
        "catalog.pass_s": stats.median([p["s"] for p in passes]),
        "catalog.build_s": stats.median([sum(phase(o, "start", "built") for o in p["ops"]) for p in passes]),
        "catalog.plan_s": stats.median([sum(phase(o, "built", "planned") for o in p["ops"]) for p in passes]),
        "catalog.exec_s": stats.median([sum(phase(o, "planned", "end") for o in p["ops"]) for p in passes]),
    }
    loads = [s for s in spans if s["name"] == "files.load_table"]
    jobs = rec["jobs"][CATALOG_GROUP]
    out.update({
        "catalog.load_table_s": sum(_ms(s) for s in loads) / 1000.0 / n_pass,
        "catalog.load_table_calls": len(loads) / n_pass,
        "catalog.jobs_per_pass": jobs["jobs"] / n_pass,
        "catalog.tasks_per_pass": jobs["tasks"] / n_pass,
    })
    per_query = defaultdict(lambda: {"build": [], "exec": []})
    for p in passes:
        for o in p["ops"]:
            per_query[o["name"]]["build"].append(phase(o, "start", "built"))
            per_query[o["name"]]["exec"].append(phase(o, "planned", "end"))
    for name, q in sorted(per_query.items()):
        out[f"catalog.{name}.build_s"] = stats.median(q["build"])
        out[f"catalog.{name}.exec_s"] = stats.median(q["exec"])
    out["self_s"] = {k: v["self_s"] for k, v in stats.layer_table(spans).items()}
    out["common"] = common(rec, spans, CATALOG_GROUP, rec["ops"], span_s)
    return out
