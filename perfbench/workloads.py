"""Workload definitions and their seeded input generators.

Every rate, size and client count is fixed here, per workload, so a
parent commit and a change see the same offered load. Nothing in this
module imports Spark.
"""

from __future__ import annotations

import json
import random
from collections import Counter
from dataclasses import dataclass, field

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
#: Stream event times start here (2023-11-14T22:13:20Z).
STREAM_T0 = 1_700_000_000
#: Prefilled history lives in buckets far before any stream event time,
#: so a read over prefilled buckets never sees a streamed row.
PREFILL_T0 = 1_500_000_000
#: The eight reference-parity queries at the head of the catalog's core
#: list; fixed here so the benchmark does not move when that list does.
CATALOG_QUERIES = (
    "bucket_count_epoch",
    "bucket_count_multikey",
    "bucket_count_iso",
    "json_decode_count",
    "merged_count_by_type",
    "sql_join_revenue_by_nation",
    "sql_topk_orders",
    "retention_recent_batches",
)


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "ingest", "serve" or "catalog"
    why: str
    msg_map: dict = field(default_factory=dict)  # {serving column: json key}
    bucket_interval: int = 60
    users: int = 0  # distinct user_id values; 0 = key without user
    rows_per_file: int = 0
    warm_files: int = 0  # committed before timing starts
    backlog_files: int = 0  # drained at max_files_per_trigger
    files_per_s: float = 0.0  # open-loop rate after the drain
    max_files_per_trigger: int = 0
    clean_interval: int = 100
    clean_freq: int = 10
    prefill_batches: int = 0
    prefill_buckets: int = 3  # buckets per event type per prefilled batch
    read_clients: int = 0
    catalog_queries: tuple = ()

    @property
    def group_cols(self) -> list[str]:
        return [k for k in self.msg_map if k != "timestamp"]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="ingest_lowcard",
            kind="ingest",
            why=(
                "the reference's shape: 5 event types, 60 s buckets, many small "
                "files, so each trigger's fixed commit cost dominates"
            ),
            msg_map={"etype": "event_type"},
            bucket_interval=60,
            rows_per_file=200,
            warm_files=3,
            backlog_files=48,
            files_per_s=10.0,
            max_files_per_trigger=8,
        ),
        Workload(
            name="ingest_highcard",
            kind="ingest",
            why=(
                "key (user_id, etype) over about 1500 users with 10 s buckets in "
                "large files, so decode, the count exchange and parquet bytes scale "
                "with rows"
            ),
            msg_map={"user_id": "user_id", "etype": "event_type"},
            bucket_interval=10,
            users=1500,
            rows_per_file=20_000,
            warm_files=2,
            backlog_files=8,
            files_per_s=1.0,
            max_files_per_trigger=2,
        ),
        Workload(
            name="serve_full_store",
            kind="serve",
            why=(
                "a store at the reference retention steady state: a backlog drain "
                "against it, then a closed-loop HTTP client beside a paced stream, "
                "so ServingStore.view does most of the read work"
            ),
            msg_map={"etype": "event_type"},
            bucket_interval=60,
            rows_per_file=200,
            warm_files=32,
            backlog_files=80,
            files_per_s=0.5,
            max_files_per_trigger=8,
            prefill_batches=105,
            read_clients=1,
        ),
        Workload(
            name="catalog_core",
            kind="catalog",
            why=(
                "the eight reference-parity catalog queries over generated sf0.1 "
                "tables, in a seeded order, so construction, planning and "
                "execution are measured"
            ),
            catalog_queries=CATALOG_QUERIES,
        ),
    )
}


@dataclass
class InputFile:
    name: str
    lines: list[str]
    counts: Counter  # {(key values..., bucket_start): rows}


def make_files(w: Workload, rng: random.Random, prefix: str, n: int, t_start: int) -> list[InputFile]:
    """``n`` newline-JSON input files with exact per-(key, bucket)
    counts. File ``i`` holds events spread over 90 s starting 2 s after
    file ``i - 1``'s, so consecutive files share buckets."""
    out = []
    for i in range(n):
        base = t_start + 2 * i
        lines = []
        counts: Counter = Counter()
        for _ in range(w.rows_per_file):
            etype = rng.choice(EVENT_TYPES)
            ts = base + rng.randrange(90)
            rec = {"event_type": etype, "timestamp": ts}
            key = (etype,)
            if w.users:
                user = str(rng.randrange(w.users))
                rec["user_id"] = user
                key = (user, etype)
            lines.append(json.dumps(rec, separators=(",", ":")))
            counts[key + (ts // w.bucket_interval * w.bucket_interval,)] += 1
        out.append(InputFile(f"{prefix}{i:05d}.json", lines, counts))
    return out


def prefill_rows(w: Workload, rng: random.Random) -> list[list]:
    """Rows ``[etype, bucket_start, bucket_end, count, RST_ID]`` of the
    prefilled history. Batch ids run ``-prefill_batches .. -1`` so the
    stream's own batch 0 follows them; batch ``b`` owns its own
    ``prefill_buckets`` buckets per event type."""
    rows = []
    for b in range(-w.prefill_batches, 0):
        slot = (b + w.prefill_batches) * w.prefill_buckets
        for j in range(w.prefill_buckets):
            start = PREFILL_T0 + (slot + j) * w.bucket_interval
            for etype in EVENT_TYPES:
                rows.append([etype, start, start + w.bucket_interval, rng.randrange(1, 50), b])
    return rows


#: The read routes, in the order every client cycles through them.
ROUTES = ("rv", "dv", "sr", "eoe", "sql")


def read_mix(rng: random.Random, safe_ids: list[int], prefill: list[list], n: int,
             offset: int = 0) -> list[dict]:
    """``n`` reads cycling over :data:`ROUTES` from ``offset``, each with
    the answer computed from the prefill. The route order is fixed so
    every run issues the same mix; the seed picks batches and ranges.
    Point and range reads touch only ``safe_ids``, batches retention
    keeps for the whole run."""
    from urllib.parse import quote

    by_batch: dict[int, list[list]] = {}
    for r in prefill:
        by_batch.setdefault(r[4], []).append(r)
    out = []
    for i in range(n):
        route = ROUTES[(i + offset) % len(ROUTES)]
        b = rng.choice(safe_ids[1:])
        rows = by_batch[b] + by_batch[b - 1]
        lo = min(r[1] for r in rows)
        hi = max(r[1] for r in rows)
        if route == "rv":
            out.append({"route": "rv", "path": "/rv/5"})
        elif route == "dv":
            out.append({"route": "dv", "path": f"/dv/{b}", "rows": _row_set(by_batch[b])})
        elif route == "sr":
            out.append({
                "route": "sr",
                "path": f"/sr/bucket_start/{lo}:{hi}",
                "rows": _row_set(rows),
            })
        elif route == "eoe":
            etype = rng.choice(EVENT_TYPES)
            spec = {"bucket_start": ["range", [lo, hi]], "etype": ["eq", etype]}
            out.append({
                "route": "eoe",
                "path": "/c/" + quote(json.dumps(spec), safe="") + "/EOE",
                "rows": _row_set([r for r in rows if r[0] == etype]),
            })
        else:
            sql = (
                "SELECT etype, SUM(`count`) AS n FROM default "
                f"WHERE bucket_start BETWEEN {lo} AND {hi} GROUP BY etype"
            )
            sums = Counter()
            for r in rows:
                sums[r[0]] += r[3]
            out.append({
                "route": "sql",
                "path": "/c/" + quote(sql, safe=""),
                "sums": dict(sums),
            })
    return out


def _row_set(rows) -> list:
    return sorted(tuple(r) for r in rows)
